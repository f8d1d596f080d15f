"""The workloads: which ops run, in what order, and how their outputs are
checked.

`analytic` and `pipeline` are fixed, latency-stratified subsets of the
parts of the library's query registry named by prefix (`subsets.json`);
the seed sets their order. `analytic_10x` is a fixed subset of `analytic`
run over 10x tables. `table_dml` is a seeded sequence of SQL statements on
snapshot tables, replayed in DuckDB to check every read and the final
tables.
"""
import json
import os
import random
import re

# registry families (name prefixes) of the analytic and pipeline parts
ANALYTIC = ("agg win idx rel str reshape join dt filt mi set expr cat sort "
            "series list struct frame").split()
PIPELINE = "dedup text sim pipeline emb udf mm".split()

# The library bench's own warm-up queries (graft.Bench.warmup: one per table
# and operator class), by workload: the ones of the workload's families.
# Registry workloads run them in every set-up.
WARMUP_QUERIES = {"analytic": ("agg_groupby_q1", "win_rolling_sum"),
                  "pipeline": ("text_tokenize", "sim_lsh_buckets"),
                  "analytic_10x": ("agg_groupby_q1", "win_rolling_sum")}

# Registry queries whose results are known to differ from their oracle at
# sf0.1; they run and are checked like every other query, and count as
# failed ops when they differ.
KNOWN_MISMATCHES = {
    "mi_xs_swap": "ORDER BY key is not unique, so LIMIT 50 picks among ties",
    "agg_cov_corr": "correlation differs in the last bit (double sum order)",
    "text_bigram_lm_score": "avg_nll sits on a round(..., 6) boundary",
}


def family(name):
    return name.split("_", 1)[0]


def registry_ops(registry, workload):
    """The query names of a registry workload that the registry has."""
    if workload == "analytic_10x":
        return scan_subset(registry)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "subsets.json")) as f:
        return [n for n in json.load(f)[workload] if n in registry]


def scan_subset(registry):
    """The first query, by name, of each analytic family whose oracle SQL
    reads lineitem or orders."""
    seen, out = set(), []
    for name in sorted(registry):
        f = family(name)
        if f in ANALYTIC and f not in seen and \
                re.search(r"\b(lineitem|orders)\b", registry[name]):
            seen.add(f)
            out.append(name)
    return out


def shuffled(names, seed):
    names = list(names)
    random.Random(seed).shuffle(names)
    return names


# ---------------------------------------------------------------- table_dml

ORDERS_COLS = ("o_orderkey o_custkey o_orderstatus o_totalprice o_orderdate "
               "o_orderpriority").split()
LINE_COLS = ("l_orderkey l_partkey l_suppkey l_linenumber l_quantity "
             "l_extendedprice l_discount l_tax l_returnflag l_linestatus "
             "l_shipdate").split()
# table -> (catalog, base table, key column, face)
DML_TABLES = {
    "dml_o": ("graft", "orders", "o_orderkey", "feather"),
    "dml_o_dv": ("graft_dv", "orders", "o_orderkey", "feather"),
    "dml_l": ("graft", "lineitem", "l_orderkey", "parquet"),
    "dml_l_dv": ("graft_dv", "lineitem", "l_orderkey", "parquet"),
}
SHIFT = 10_000_000
VERSION_STEP = 3


class Stmt:
    """One statement in both dialects. `spark`/`duck` may differ (MERGE is
    replayed in DuckDB as an UPDATE plus an INSERT). `version` is
    (table, k) for a read pinned to the table's version after write k."""

    def __init__(self, kind, name, table, spark, duck, version=None):
        self.kind, self.name, self.table = kind, name, table
        self.spark, self.duck, self.version = spark, duck, version


def _src(base, data_dir):
    return f"parquet.`{data_dir}/{base}.parquet`", f"read_parquet('{data_dir}/{base}.parquet')"


def dml_fixtures(data_dir):
    """CREATE TABLE AS statements; each table is range-partitioned on its
    key into several files, so key-range filters can skip files."""
    out = []
    for t, (cat, base, key, face) in DML_TABLES.items():
        s, _ = _src(base, data_dir)
        out.append(f"CREATE TABLE {cat}.{t} USING {face} AS SELECT "
                   f"/*+ REPARTITION_BY_RANGE(4, {key}) */ * FROM {s}")
    return out


# One cycle of statement kinds: seven reads and five writes. Every run does
# whole cycles, statement i goes to table (i + cycle) mod 4, and each kind
# has a fixed key-range width, so each run has the same mix of kinds,
# tables and row counts; the seed picks where the key ranges start. With
# more reads than writes the median op is a read, not a pick between the
# read and the write cluster.
CYCLE = ("range", "insert", "agg", "update", "range", "delete",
         "asof", "merge", "agg", "range", "compact", "range")


def dml_statements(seed, data_dir, cycles, base_keys):
    """`cycles` seeded cycles of statements over the four tables.
    `base_keys` maps the base table name to its key domain: keys run
    0 .. n-1 (lineitem's key is its order key). Key ranges are spelled `>= AND <=` in writes: `BETWEEN` in
    a DELETE or UPDATE fails analysis in this library (see README.md)."""
    rng = random.Random(seed)
    writes = {t: 0 for t in DML_TABLES}
    stmts = []
    for i in range(cycles * len(CYCLE)):
        kind = CYCLE[i % len(CYCLE)]
        t = list(DML_TABLES)[(i + i // len(CYCLE)) % len(DML_TABLES)]
        cat, base, key, _ = DML_TABLES[t]
        cols = ORDERS_COLS if base == "orders" else LINE_COLS
        nk = base_keys[base]
        fq = f"{cat}.{t}"
        src_s, src_d = _src(base, data_dir)
        a = rng.randrange(0, nk)
        name = f"{kind}_{t}_{i}"

        def between(lo, hi):
            return f"{key} >= {lo} AND {key} <= {hi}"

        if kind == "range":  # a key range that data skipping can prune
            b = a + nk // 40
            q = (f"SELECT count(*) AS n, sum({key}) AS s FROM {{t}} "
                 f"WHERE {key} BETWEEN {a} AND {b}")
            stmts.append(Stmt("read", name, t, q.format(t=fq), q.format(t=t)))
        elif kind == "agg":
            g, v = (("o_orderstatus", "o_custkey") if base == "orders"
                    else ("l_returnflag", "CAST(l_quantity AS BIGINT)"))
            q = f"SELECT {g} AS g, count(*) AS n, sum({v}) AS s FROM {{t}} GROUP BY {g}"
            stmts.append(Stmt("read", name, t, q.format(t=fq), q.format(t=t)))
        elif kind == "asof":  # time travel to set-up or a recent write
            k = writes[t] // VERSION_STEP * VERSION_STEP
            q = f"SELECT count(*) AS n, sum({key}) AS s FROM {{t}}"
            stmts.append(Stmt("read", name, t,
                              q.format(t=f"{fq} VERSION AS OF {{v:{t}:{k}}}"),
                              q.format(t=t), version=(t, k)))
        elif kind == "compact":
            writes[t] += 1
            stmts.append(Stmt("write", name, t,
                              f"CALL graft.system.compact('{t}')", []))
        elif kind == "insert" or (kind == "merge" and base == "lineitem"):
            writes[t] += 1
            off = SHIFT * (1 + i)
            b = a + nk // 100
            proj = ", ".join(f"{c} + {off} AS {c}" if c == key else c for c in cols)
            q = f"INSERT INTO {{t}} SELECT {proj} FROM {{s}} WHERE {between(a, b)}"
            stmts.append(Stmt("write", f"insert_{t}_{i}", t,
                              q.format(t=fq, s=src_s), [q.format(t=t, s=src_d)]))
        elif kind == "merge":  # orders: evens match and update, odds insert
            writes[t] += 1
            off = SHIFT * (1 + i)
            b = a + nk // 100
            proj = ", ".join(c if c != key else
                             f"{key} + CASE WHEN {key} % 2 = 0 THEN 0 ELSE {off} END AS {key}"
                             for c in cols)
            sel_s = f"SELECT {proj} FROM {src_s} WHERE {between(a, b)}"
            sel_d = f"SELECT {proj} FROM {src_d} WHERE {between(a, b)}"
            spark = (f"MERGE INTO {fq} t USING ({sel_s}) s ON t.{key} = s.{key} "
                     "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2 "
                     "WHEN NOT MATCHED THEN INSERT *")
            duck = [f"UPDATE {t} SET o_totalprice = s.o_totalprice * 2 FROM ({sel_d}) s "
                    f"WHERE {t}.{key} = s.{key}",
                    f"INSERT INTO {t} SELECT * FROM ({sel_d}) s WHERE NOT EXISTS "
                    f"(SELECT 1 FROM {t} x WHERE x.{key} = s.{key})"]
            stmts.append(Stmt("write", name, t, spark, duck))
        elif kind == "update":
            writes[t] += 1
            b = a + nk // 100
            sets = ("o_totalprice = o_totalprice + 1.25, o_orderstatus = 'U'"
                    if base == "orders" else
                    "l_quantity = l_quantity + 1, l_linestatus = 'U'")
            duck = [f"UPDATE {t} SET {sets} WHERE {between(a, b)}"]
            if cat == "graft_dv":  # merge-on-read tables update through MERGE
                assign = re.sub(r"(\w+) = \1", r"\1 = t.\1", sets)
                spark = (f"MERGE INTO {fq} t USING (SELECT DISTINCT {key} FROM "
                         f"{src_s} WHERE {between(a, b)}) s ON t.{key} = s.{key} "
                         f"WHEN MATCHED THEN UPDATE SET {assign}")
            else:
                spark = f"UPDATE {fq} SET {sets} WHERE {between(a, b)}"
            stmts.append(Stmt("write", name, t, spark, duck))
        else:  # delete
            writes[t] += 1
            b = a + nk // 200
            q = f"DELETE FROM {{t}} WHERE {between(a, b)}"
            stmts.append(Stmt("write", name, t, q.format(t=fq), [q.format(t=t)]))
    return stmts


def logical_row_bytes(con, base):
    """Average logical bytes of one row of `base`: 8 per number or
    timestamp (4 per 32-bit integer) plus the characters of each string."""
    cols = con.execute(f"DESCRIBE {base}").fetchall()
    parts = []
    for name, typ, *_ in cols:
        if typ == "VARCHAR":
            parts.append(f"avg(length({name}))")
        elif typ == "INTEGER":
            parts.append("4")
        else:
            parts.append("8")
    return float(con.execute(f"SELECT {' + '.join(parts)} FROM {base}").fetchone()[0])


def dml_replay(con, stmts):
    """Replays the statements that ran in DuckDB over the base tables
    (views `orders` and `lineitem` of `con`). Returns the expected result
    rows of every read, by op index, and the logical bytes written."""
    widths = {b: logical_row_bytes(con, b) for b in ("orders", "lineitem")}
    written = 0.0
    for t, (_, base, _, _) in DML_TABLES.items():
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM {base}")
        written += con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] * widths[base]
    writes = {t: 0 for t in DML_TABLES}
    pending = {}  # (table, k) -> [op index] for version reads
    for i, s in enumerate(stmts):
        if s.version:
            pending.setdefault(s.version, []).append(i)
    expected = {}

    def snap(t):
        for i in pending.pop((t, writes[t]), []):
            expected[i] = con.execute(stmts[i].duck).fetchall()

    for t in DML_TABLES:
        snap(t)
    for i, s in enumerate(stmts):
        if s.kind == "read":
            if not s.version:
                expected[i] = con.execute(s.duck).fetchall()
            continue
        base = DML_TABLES[s.table][1]
        for q in s.duck:
            n = con.execute(q).fetchone()[0]
            if not q.startswith("DELETE"):
                written += n * widths[base]
        writes[s.table] += 1
        snap(s.table)
    return expected, written


def canon_rows(rows):
    """Result rows as sorted tuples of text, for comparing the harness's
    collected rows with DuckDB's."""
    def cell(v):
        if v is None:
            return None
        if isinstance(v, float) and v.is_integer():
            v = int(v)
        return str(v)
    return sorted(tuple(cell(v) for v in r) for r in rows)
