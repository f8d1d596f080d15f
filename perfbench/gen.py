"""Seeded generator of the benchmark's input tables.

`base(out, sf)` writes the ten tables the query registry reads (TPC-H-like
star schema plus `events`, `documents` and `embeddings`), one parquet file
each, with the schemas and value domains of the library's test fixtures.
The data depend only on `sf` and the fixed data seed, so the expected
results of every query are the same in every run at one scale.

`scaled(src, out, copies, seed, files)` writes key-shifted copies of a base
directory, several parquet files per table, the way the library's scale
rehearsal grows sf0.1 to sf1: each copy offsets the join keys by k * 10^7,
so every copy is a disjoint key universe and joins fan out as in the base.
The seed permutes the copies across the files, and it rotates the document
text and the embedding dimensions per copy (both are isometries for the
similarity queries).
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
SHIFT = 10_000_000


def _rows(sf, per_sf, floor=1):
    return max(floor, int(round(per_sf * sf)))


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table_dict, path):
    pq.write_table(pa.table(table_dict), path)


def base(out, sf, seed=DATA_SEED):
    """Writes the ten tables at scale factor `sf` into directory `out`."""
    rng = np.random.default_rng(seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n_cust, n_supp = _rows(sf, 150_000), _rows(sf, 10_000)
    n_part, n_ord = _rows(sf, 200_000), _rows(sf, 1_500_000)
    n_line, n_ev = _rows(sf, 6_000_000), _rows(sf, 1_000_000)
    n_doc, n_emb = _rows(sf, 50_000, 500), _rows(sf, 20_000, 500)
    n_user = _rows(sf, 15_000)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    p = lambda name: os.path.join(tmp, name + ".parquet")

    _write({"r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           p("region"))
    _write({"n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)])}, p("nation"))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write({"c_custkey": i64(np.arange(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}, p("customer"))
    _write({"s_suppkey": i64(np.arange(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}, p("supplier"))
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part)
    _write({"p_partkey": i64(pk),
            "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                  noun[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)}, p("part"))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write({"o_orderkey": i64(np.arange(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}, p("orders"))
    _write({"l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")},
           p("lineitem"))
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write({"event_id": i64(np.arange(n_ev)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": i64(rng.integers(0, n_user, n_ev)),
            "event_type": np.array(["click", "error", "purchase", "signup",
                                    "view"])[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           p("events"))
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _write({"doc_id": i64(np.arange(n_doc)),
            "text": texts,
            "lang": langs[rng.choice(5, n_doc, p=[0.41, 0.1475, 0.1475,
                                                  0.1475, 0.1475])],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": i64([len(t) for t in texts])}, p("documents"))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) + 0.5 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write({"vec_id": i64(np.arange(n_emb)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": i32(labels)}, p("embeddings"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


# key columns shifted per copy, by table (dims nation/region copy as-is)
SHIFTED = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _rotate_text(col, k):
    a = "abcdefghijklmnopqrstuvwxyz"
    table = str.maketrans(a, a[k % 26:] + a[:k % 26])
    return pa.array([t.translate(table) for t in col.to_pylist()])


def scaled(src, out, copies, seed, files):
    """Writes `copies` key-shifted copies of every table in `src` to `out`,
    as `files` parquet files per table (a directory `<table>.parquet`)."""
    rng = np.random.default_rng(seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(src, t + ".parquet"))
        d = os.path.join(tmp, t + ".parquet")
        os.makedirs(d)
        if t not in SHIFTED:  # nation, region: one copy, keys unshifted
            pq.write_table(tbl, os.path.join(d, "part-00000.parquet"))
            continue
        parts = []
        for k in range(copies):
            c = tbl
            for col in SHIFTED[t]:
                i = c.schema.get_field_index(col)
                c = c.set_column(i, col, pc.add(c[col], k * SHIFT))
            if t == "documents":
                c = c.set_column(1, "text", _rotate_text(c["text"], k))
            if t == "embeddings":
                dim = len(c["embedding"][0])
                m = np.stack(c["embedding"].to_numpy(zero_copy_only=False))
                m = np.roll(m, -(k % dim), axis=1)
                c = c.set_column(1, "embedding",
                                 pa.array(list(m), pa.list_(pa.float32())))
            parts.append(c)
        order = rng.permutation(copies)
        for f, idx in enumerate(np.array_split(order, min(files, copies))):
            pq.write_table(pa.concat_tables([parts[i] for i in idx]),
                           os.path.join(d, f"part-{f:05d}.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
