#!/usr/bin/env python3
"""Benchmark of the graft library: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness from source (sbt, offline) and generates the input tables; both
are cached under `.bench_build/`. Each run then starts a fresh JVM, sets
up, runs the workload's ops for `--seconds` of timed wall time, checks
every output against DuckDB, and prints one JSON line as the last line of
standard output. With `--trace 0` it holds the end-to-end metrics, with
`--trace 1` the per-layer metrics of a run with the listeners attached.
The per-op trace is written to `.bench_build/trace/<workload>-seed<n>.json`.
`--smoke` runs at sf0.001 with a one-pass budget (see `selftest.py`).
See README.md in this directory.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads as wl  # noqa: E402

ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("analytic", "pipeline", "table_dml", "analytic_10x")
SETUP_REPS = 3          # set-ups per run (one JVM); setup_s is their median
HEAP = "3g"
JVM_TIMEOUT_S = 150
# A run does max(1, round(--seconds / PASS_S)) passes over its ops (the
# query subset, or one table_dml statement cycle), so every run of a
# workload at one --seconds does the same number of ops. On a 4-core box
# --seconds 10 gives one analytic pass (~20 s timed) and four table_dml
# cycles (~22 s timed: 48 ops, enough for a steady median).
PASS_S = {"analytic": 11.3, "pipeline": 10.1, "table_dml": 2.5,
          "analytic_10x": 10.0}
DML_SF = 0.01           # table_dml tables are built from this scale
X10_COPIES, X10_FILES = 10, 8
# --add-opens the library's build passes to its forked JVMs (JDK 17)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _build_inputs():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "harness", "build.sbt"),
             os.path.join(BENCH, "harness", "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha1()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness; returns the JVM classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("no library sources under src/main/scala/graft: run from the "
             "root of a graft checkout")
    key = _build_inputs()
    d = os.path.join(WORK, "build")
    stamp, cpf = os.path.join(d, "key"), os.path.join(d, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(cpf):
        return open(cpf).read()
    os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
         "export harness/runtime:fullClasspath"],
        cwd=os.path.join(BENCH, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=800)
    if p.returncode != 0:
        log(p.stdout[-3000:], p.stderr[-2000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l][-1].strip()
    log(f"perfbench: built in {time.time() - t:.1f} s")
    with open(cpf, "w") as f:
        f.write(cp)
    reg = os.path.join(d, "registry.tsv")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Harness", "--list", reg],
                   check=True, capture_output=True, timeout=120)
    with open(stamp, "w") as f:
        f.write(key)
    return cp


def registry():
    """{query name: oracle SQL} from the built library."""
    out = {}
    with open(os.path.join(WORK, "build", "registry.tsv")) as f:
        for line in f:
            name, sql = line.rstrip("\n").split("\t", 1)
            out[name] = sql
    return out


# ------------------------------------------------------------------- data

def _gen_key():
    """A hash of the generator, so data made by an older one is not reused."""
    with open(os.path.join(BENCH, "gen.py"), "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()[:10]


def base_data(sf):
    d = os.path.join(WORK, "data", f"sf{sf}-{_gen_key()}")
    if not os.path.exists(d):
        t = time.time()
        gen.base(d, sf)
        log(f"perfbench: generated sf{sf} in {time.time() - t:.1f} s")
    return d


def x10_data(sf, seed):
    """(directory, seconds spent generating it now)."""
    d = os.path.join(WORK, "data", f"x10_sf{sf}_seed{seed}-{_gen_key()}")
    if os.path.exists(d):
        return d, 0.0
    shutil.rmtree(os.path.join(WORK, "data", "x10_tmp"), ignore_errors=True)
    for old in os.listdir(os.path.join(WORK, "data")):  # keep one seed on disk
        if old.startswith(f"x10_sf{sf}_"):
            shutil.rmtree(os.path.join(WORK, "data", old), ignore_errors=True)
    t = time.time()
    gen.scaled(base_data(sf), d, X10_COPIES, seed, X10_FILES)
    return d, time.time() - t


def expected_cache(data_dir):
    """Oracle results already computed for `data_dir`, by oracle SQL."""
    p = os.path.join(WORK, "expected", os.path.basename(data_dir) + ".pkl")
    try:
        with open(p, "rb") as f:
            return p, pickle.load(f)
    except (OSError, EOFError, pickle.UnpicklingError):
        return p, {}


# -------------------------------------------------------------------- JVM

def java(cp, plan_lines, run_dir):
    """Runs the harness over a plan; returns its result.json."""
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(run_dir, "out")
    shutil.rmtree(out, ignore_errors=True)
    plan = os.path.join(run_dir, "plan.tsv")
    lines = [f"set\tout\t{out}", f"set\twarehouse\t{tmp}/graft_tables",
             f"set\tspawn_ms\t{time.time() * 1e3:.3f}"] + plan_lines
    for l in lines:
        if "\n" in l:
            raise ValueError("plan line with a newline: " + l)
    with open(plan, "w") as f:
        f.write("\n".join(lines) + "\n")
    # no -XX:+UsePerfData: it writes /tmp/hsperfdata_<user> outside the checkout
    cmd = ["java", *OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness", plan]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the harness JVM timed out")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        log(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        fail(f"the harness JVM failed (exit {rc})")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    res["out"] = out
    shutil.rmtree(tmp, ignore_errors=True)
    return res


# --------------------------------------------------------------- workload

def plan_for(workload, seed, seconds, trace, data, reg):
    """(plan lines, extra) for one run. `extra` carries what the check
    needs: the statements of table_dml."""
    passes = max(1, round(seconds / PASS_S[workload]))
    lines = [f"set\tworkload\t{workload}", f"set\tdata\t{data}",
             f"set\ttrace\t{trace}",
             f"set\tpasses\t{1 if workload == 'table_dml' else passes}"]
    if workload == "table_dml":
        con = oracle.connect(data)
        keys = {b: con.execute(f"SELECT max({k}) + 1 FROM {b}").fetchone()[0]
                for b, k in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))}
        stmts = wl.dml_statements(seed, data, passes, keys)
        warm = wl.dml_statements(seed + 1_000_003, data, 1, keys)
        lines += [f"fixture\tsql\t{s}" for s in wl.dml_fixtures(data)]
        lines += [f"warm\t{s.kind}\t{s.name}\t{s.table}\t{s.spark}" for s in warm]
        lines += [f"op\t{s.kind}\t{s.name}\t{s.table}\t{s.spark}" for s in stmts]
        lines += [f"dump\t{t}\tSELECT * FROM {cat}.{t}"
                  for t, (cat, *_) in wl.DML_TABLES.items()]
        return lines, stmts
    names = wl.shuffled(wl.registry_ops(reg, workload), seed)
    lines += [f"fixture\tquery\t{n}" for n in wl.WARMUP_QUERIES[workload]]
    lines += [f"op\tquery\t{n}\t-\t" for n in names]
    return lines, None


def check_registry(res, data, reg):
    """Marks each op record ok only if its query's output matched."""
    cache_path, cache = expected_cache(data)
    before = len(cache)
    names = sorted({r["name"] for r in res["ops"]})
    con = oracle.connect(data)
    verdict = oracle.check_queries(os.path.join(res["out"], "check"), names,
                                   reg, con, cache)
    if len(cache) != before:
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path + ".tmp", "wb") as f:
            pickle.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    for r in res["ops"]:
        ok, reason, rows = verdict[r["name"]]
        r["rows_out"] = rows
        if not ok:
            r["ok"] = False
            r.setdefault("error", reason)
    return [], 0.0


def check_dml(res, data, stmts):
    """Checks every read and the final tables against a DuckDB replay of
    the statements that ran. Returns (failed final-table checks, logical
    bytes written)."""
    con = oracle.connect(data)
    expected, written = wl.dml_replay(con, stmts)
    for r, s in zip(res["ops"], stmts):
        if s.kind == "read" and r["ok"]:
            if wl.canon_rows(r["result"]) != wl.canon_rows(expected[r["i"]]):
                r["ok"] = False
                r["error"] = (f"read differs: got {wl.canon_rows(r['result'])[:3]} "
                              f"expected {wl.canon_rows(expected[r['i']])[:3]}")
    bad = []
    for t in wl.DML_TABLES:
        got = oracle.read_result(os.path.join(res["out"], "check", t))
        reason = oracle.compare(got, con.execute(f"SELECT * FROM {t}").df())
        if reason:
            bad.append(f"{t}: {reason}")
    return bad, written


# ---------------------------------------------------------------- metrics

def end_to_end(res, setups):
    lats = [r["lat_s"] for r in res["ops"]]
    s = metrics.latency_summary(lats)
    return {
        "setup_s": (statistics.median(setups), "s"),
        "ops_per_s": (len(lats) / res["timed_s"], "1/s"),
        "op_p50_s": (s["p50"], "s"),
        "op_tail_s": (s["tail"], "s"),
        "op_geomean_s": (s["geomean"], "s"),
    }, s


def dml_numbers(res, written):
    """The table_dml-only numbers: read and write latency, storage."""
    out = {}
    for kind in ("read", "write"):
        lats = [r["lat_s"] for r in res["ops"] if r["kind"] == kind]
        if lats:
            t, p, n = metrics.tail(lats)
            out[f"{kind}_p50_s"] = statistics.median(lats)
            out[f"{kind}_tail_s"] = t
            out[f"{kind}_tail_pct"] = p
            out[f"{kind}_n"] = n
    out["stored_bytes_per_input_byte"] = sum(res["tables"].values()) / written
    return out


PER_LAYER_UNITS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.count": "count", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.job_wall_s": "s", "exec.driver_gap_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.core_busy_frac": "frac", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "scan.input_bytes": "bytes", "scan.input_records": "count",
    "scan.tasks": "count", "scan.records_per_row_out": "ratio",
    "commit.insert_s": "s", "commit.merge_s": "s", "commit.update_s": "s",
    "commit.delete_s": "s", "commit.compact_s": "s",
    "commit.bytes_written": "bytes", "commit.files_added": "count",
    "commit.files_removed": "count", "commit.write_amp": "ratio",
    "cache.peak_bytes": "bytes", "cache.leaked_bytes": "bytes",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "dml.read_p50_s": "s", "dml.read_tail_s": "s", "dml.write_p50_s": "s",
    "dml.write_tail_s": "s", "dml.stored_bytes_per_input_byte": "ratio",
}


def layered(res, written, cores):
    """(per-layer workload sums over the first pass, per-op records)."""
    recs = [r for r in res["ops"] if r.get("pass", 0) == 0]
    per_op = [metrics.op_layers(r, cores) for r in recs]
    tot = metrics.workload_layers(per_op, written)
    ops = []
    for r, l in zip(recs, per_op):
        ops.append({
            "name": r["name"], "kind": r["kind"], "ok": r["ok"],
            "lat_s": r["lat_s"], "rows_out": r.get("rows_out", 0),
            "plan_hashes": [q["plan_hash"] for q in r.get("qes", [])],
            "layers": {k: v for k, v in l.items() if not k.startswith("_")},
            "spans": metrics.spans(r),
            **({"error": r["error"]} if "error" in r else {}),
        })
    return tot, ops


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 tables and a single set-up")
    a = ap.parse_args()
    sf = 0.001 if a.smoke else 0.1
    cp = build()
    reg = registry()
    data = base_data(sf)
    gen_s = 0.0
    if a.workload == "table_dml":
        data = base_data(min(sf, DML_SF))
    elif a.workload == "analytic_10x":
        data, gen_s = x10_data(sf, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    os.makedirs(run_dir, exist_ok=True)
    lines, stmts = plan_for(a.workload, a.seed, a.seconds, a.trace, data, reg)
    lines.append(f"set\tsetup_reps\t{1 if a.smoke else SETUP_REPS}")
    t = time.time()
    res = java(cp, lines, run_dir)
    jvm_wall = time.time() - t
    setups = res["setup_s"]

    if a.workload == "table_dml":
        bad_tables, written = check_dml(res, data, stmts)
    else:
        bad_tables, written = check_registry(res, data, reg)
    check_wall = time.time() - t - jvm_wall
    failed = [r for r in res["ops"] if not r["ok"]]
    unexpected = sorted({r["name"] for r in failed} - set(wl.KNOWN_MISMATCHES))
    correct = not unexpected and not bad_tables
    e2e, lat = end_to_end(res, setups)
    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "data": os.path.basename(data),
        "ops_run": res["ops_run"], "passes": res["passes"],
        "timed_s": res["timed_s"], "setup_samples_s": setups,
        "jvm_start_s": res["jvm_s"], "data_gen_s": gen_s,
        "jvm_wall_s": jvm_wall, "check_wall_s": check_wall,
        "tail_pct": lat["tail_pct"], "tail_samples": lat["n"],
        "peak_heap_mb": res["peak_heap_mb"],
        "failed_frac": metrics.failed_frac(res["ops"]),
        "failed_ops": sorted({r["name"] for r in failed}),
        "known_mismatches": wl.KNOWN_MISMATCHES,
        "unexpected_failures": unexpected, "failed_final_tables": bad_tables,
        "errors": {r["name"]: r.get("error", "") for r in failed},
    }
    if a.workload == "table_dml":
        info.update(dml_numbers(res, written))
    if a.trace:
        cores = os.cpu_count() or 1
        tot, ops = layered(res, written, cores)
        if a.workload == "table_dml":
            for k in ("read_p50_s", "read_tail_s", "write_p50_s", "write_tail_s",
                      "stored_bytes_per_input_byte"):
                tot["dml." + k] = info.get(k, 0.0)
        out_metrics = {k: (tot.get(k, 0.0), u) for k, u in PER_LAYER_UNITS.items()}
        ref = os.path.join(WORK, "last", f"{a.workload}-seed{a.seed}.json")
        if os.path.exists(ref):
            base_lat = json.load(open(ref))["first_pass_lat_s"]
            traced = sum(o["lat_s"] for o in ops)
            info["tracing_overhead_frac"] = traced / base_lat - 1.0
        else:
            info["tracing_overhead_frac"] = None
        trace_path = os.path.join(WORK, "trace", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({"info": info, "per_layer": tot, "end_to_end":
                       {k: v for k, (v, _) in e2e.items()}, "ops": ops}, f, indent=1)
        log(f"perfbench: trace written to {os.path.relpath(trace_path, ROOT)}")
    else:
        out_metrics = e2e
        os.makedirs(os.path.join(WORK, "last"), exist_ok=True)
        with open(os.path.join(WORK, "last", f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"info": info, "first_pass_lat_s": sum(
                r["lat_s"] for r in res["ops"] if r.get("pass", 0) == 0),
                "end_to_end": {k: v for k, (v, _) in e2e.items()}}, f, indent=1)
    log("perfbench: " + json.dumps({k: v for k, v in info.items() if k != "errors"}))
    for name, err in info["errors"].items():
        log(f"perfbench: failed op {name}: {err[:300]}")
    for t in bad_tables:
        log(f"perfbench: final table differs: {t}")
    print(json.dumps({
        "correct": correct, "attempted": len(res["ops"]), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()},
    }))


if __name__ == "__main__":
    main()
