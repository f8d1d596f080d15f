"""The benchmark's arithmetic: percentiles, the tail percentile, interval
unions and self time, failure fractions, and the per-layer sums."""
import math
import statistics

TAIL_BEYOND = 10   # samples that must lie beyond the tail percentile


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest whole percentile with at least `TAIL_BEYOND` of `n`
    samples beyond it, capped at 99 and never below the median."""
    return float(max(50, min(99, (100 * (n - TAIL_BEYOND)) // n if n else 50)))


def tail(values):
    """(tail value, percentile used, sample count)."""
    p = tail_percentile(len(values))
    return percentile(values, p), p, len(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals):
    """Total length covered by `(start, end)` intervals (overlaps once)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it covered by its children."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def failed_frac(records):
    """Ops that threw or returned a wrong result, over ops attempted."""
    if not records:
        raise ValueError("no ops attempted")
    return sum(1 for r in records if not r["ok"]) / len(records)


def latency_summary(lats):
    """p50, tail and geomean of op latencies in seconds."""
    t, p, n = tail(lats)
    return {"p50": statistics.median(lats), "tail": t, "tail_pct": p,
            "n": n, "geomean": geomean(lats)}


COMMIT_KINDS = ("insert", "merge", "update", "delete", "compact")


def op_layers(rec, cores):
    """The per-layer numbers of one traced op record."""
    jobs = rec.get("jobs", [])
    stages = rec.get("stages", [])
    qes = rec.get("qes", [])
    t0, t1 = rec["t0_ms"], rec["t1_ms"]
    job_iv = [(j["start"], j["end"]) for j in jobs if j["end"] >= 0]
    job_wall = union_length([(max(t0, s), min(t1, e)) for s, e in job_iv]) / 1e3
    wall = (t1 - t0) / 1e3
    ssum = lambda k: sum(s[k] for s in stages)
    phase = lambda k: sum(e - s for q in qes
                          for s, e in [q["phases"].get(k, (0, 0))]) / 1e3
    run_s = ssum("run_ms") / 1e3
    out = {
        "queries.build_s": rec.get("build_s", 0.0),
        "queries.build_jobs": sum(1 for j in jobs if j["phase"] == "build"),
        "plan.analysis_s": phase("analysis"),
        "plan.optimization_s": phase("optimization"),
        "plan.planning_s": phase("planning"),
        "plan.count": len(qes),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": ssum("tasks"),
        "exec.job_wall_s": job_wall,
        "exec.driver_gap_s": max(0.0, wall - job_wall),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": ssum("cpu_ns") / 1e9,
        "exec.task_gc_s": ssum("gc_ms") / 1e3,
        "exec.shuffle_write_bytes": ssum("shuffle_write"),
        "exec.shuffle_read_bytes": ssum("shuffle_read"),
        "exec.spill_bytes": ssum("spill"),
        "scan.input_bytes": ssum("in_bytes"),
        "scan.input_records": ssum("in_records"),
        "scan.tasks": ssum("scan_tasks"),
        "cache.peak_bytes": rec.get("cache_peak_bytes", 0),
        "cache.leaked_bytes": rec.get("cache_after_bytes", 0),
        "jvm.gc_s": rec.get("gc_ms", 0) / 1e3,
        "jvm.jit_s": rec.get("jit_ms", 0) / 1e3,
        "commit.bytes_written": 0, "commit.files_added": 0,
        "commit.files_removed": 0,
    }
    for k in COMMIT_KINDS:
        out[f"commit.{k}_s"] = 0.0
    if rec["kind"] == "write":
        out[f"commit.{commit_kind(rec['name'])}_s"] = rec["lat_s"]
        out["commit.bytes_written"] = ssum("out_bytes")
        out["commit.files_added"] = rec.get("files_added", 0)
        out["commit.files_removed"] = rec.get("files_removed", 0)
    out["_rows_out"] = rec.get("rows_out", 0)
    out["_job_wall_cores"] = job_wall * cores
    return out


def commit_kind(name):
    """Op names of writes are `<kind>_<table>_<n>`."""
    return name.split("_", 1)[0]


def workload_layers(per_op, input_bytes_written):
    """Sums over ops, plus the ratios computed from the sums."""
    keys = [k for k in per_op[0] if not k.startswith("_")] if per_op else []
    tot = {k: sum(o[k] for o in per_op) for k in keys}
    cores = sum(o["_job_wall_cores"] for o in per_op)
    rows = sum(o["_rows_out"] for o in per_op)
    tot["exec.core_busy_frac"] = tot.get("exec.task_run_s", 0.0) / cores if cores else 0.0
    tot["scan.records_per_row_out"] = \
        tot.get("scan.input_records", 0) / rows if rows else 0.0
    tot["commit.write_amp"] = (tot.get("commit.bytes_written", 0) / input_bytes_written
                               if input_bytes_written else 0.0)
    # peaks and leaks are levels, not flows: the workload figure is the max
    for k in ("cache.peak_bytes", "cache.leaked_bytes"):
        tot[k] = max((o[k] for o in per_op), default=0)
    return tot


def spans(rec):
    """The span tree of one traced op, as a list of
    `{name, start_ms, end_ms, parent, self_s}` (parent = list index):
    op -> queries.build / queries.write or sql.statement -> plan.<phase>
    and exec.job -> exec.stage. Self time is a span's duration minus the
    part of it its children cover."""
    t0, t1 = rec["t0_ms"], rec["t1_ms"]
    out = [{"name": "op", "start_ms": t0, "end_ms": t1, "parent": None}]
    by_phase = {}
    if rec["kind"] == "query":
        tb = t0 + rec.get("build_s", 0.0) * 1e3
        out.append({"name": "queries.build", "start_ms": t0, "end_ms": tb, "parent": 0})
        out.append({"name": "queries.write", "start_ms": tb, "end_ms": t1, "parent": 0})
        by_phase = {"build": 1, "exec": 2}
    else:
        out.append({"name": "sql.statement", "start_ms": t0, "end_ms": t1, "parent": 0})
        by_phase = {"sql": 1}

    def container(start):
        for i in by_phase.values():
            if out[i]["start_ms"] <= start < out[i]["end_ms"]:
                return i
        return 0

    for q in rec.get("qes", []):
        for ph, (s, e) in sorted(q["phases"].items(), key=lambda kv: kv[1][0]):
            out.append({"name": "plan." + ph, "start_ms": s, "end_ms": e,
                        "parent": container(s)})
    stage_job = {}
    for j in rec.get("jobs", []):
        idx = len(out)
        out.append({"name": "exec.job", "start_ms": j["start"],
                    "end_ms": j["end"] if j["end"] >= 0 else t1,
                    "parent": by_phase.get(j["phase"], 0), "id": j["id"]})
        for sid in j["stages"]:
            stage_job.setdefault(sid, idx)
    for st in rec.get("stages", []):
        if st["start"] >= 0 and st["end"] >= 0:
            out.append({"name": "exec.stage", "start_ms": st["start"],
                        "end_ms": st["end"], "parent": stage_job.get(st["id"], 0),
                        "id": st["id"]})
    kids = {}
    for i, sp in enumerate(out):
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start_ms"], sp["end_ms"]))
    for i, sp in enumerate(out):
        sp["self_s"] = self_time((sp["start_ms"], sp["end_ms"]), kids.get(i, [])) / 1e3
    return out
