"""Output checks against DuckDB.

`compare` applies the comparison rules of the repository's correctness
gate (`scripts/check.py`): columns sorted by name, rows sorted on every
column, same column names and row count, floats equal exactly, timestamps
equal in timezone awareness, everything else equal as values or as text.
"""
import glob
import os

import duckdb
import pandas as pd

from gen import TABLES


def connect(data_dir):
    """A DuckDB connection with one view per input table of `data_dir`
    (a table is a parquet file or a directory of parquet files)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(df):
    df = df[sorted(df.columns)].copy()
    return df.sort_values(by=list(df.columns), kind="mergesort") \
        .reset_index(drop=True)


def compare(got, exp):
    """None if `got` matches `exp`, else a one-line reason."""
    try:
        g, e = canon(got), canon(exp)
    except Exception as ex:  # unhashable output
        return f"compare error: {ex}"
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if pd.api.types.is_datetime64_any_dtype(gv) or \
                pd.api.types.is_datetime64_any_dtype(ev):
            if (getattr(gv.dtype, "tz", None) is None) != \
                    (getattr(ev.dtype, "tz", None) is None):
                return f"col {c}: tz-awareness {gv.dtype}/{ev.dtype}"
        if pd.api.types.is_float_dtype(gv) and pd.api.types.is_float_dtype(ev):
            eq = (gv.values == ev.values) | (pd.isna(gv.values) & pd.isna(ev.values))
            if not eq.all():
                return (f"col {c} (float): got={gv[~eq].head(2).tolist()} "
                        f"exp={ev[~eq].head(2).tolist()}")
        else:
            try:
                same = gv.equals(ev) or \
                    (gv.astype(str).values == ev.astype(str).values).all()
            except Exception:
                same = False
            if not same:
                neq = gv.astype(str).values != ev.astype(str).values
                return (f"col {c} ({gv.dtype}/{ev.dtype}): "
                        f"got={gv[neq].head(2).tolist()} "
                        f"exp={ev[neq].head(2).tolist()}")
    return None


def read_result(path):
    """The rows a check dump wrote under `path` (a parquet directory)."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.read_parquet(path)
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_queries(check_dir, names, oracle_sql, con, expected=None):
    """{name: (ok, reason, rows)} for registry queries whose results the
    harness dumped under `check_dir`. `expected` caches oracle frames by
    their SQL, so an edited oracle is run again."""
    out = {}
    for name in names:
        err = os.path.join(check_dir, name + ".error")
        if os.path.exists(err):
            out[name] = (False, "error: " + open(err).read()[:200], 0)
            continue
        try:
            got = read_result(os.path.join(check_dir, name))
        except Exception as ex:
            out[name] = (False, f"cannot read result: {ex}", 0)
            continue
        sql = oracle_sql[name]
        if expected is not None and sql in expected:
            exp = expected[sql]
        else:
            try:
                exp = con.execute(sql).df()
            except Exception as ex:
                out[name] = (False, f"oracle SQL error: {ex}", len(got))
                continue
            if expected is not None:
                expected[sql] = exp
        reason = compare(got, exp)
        out[name] = (reason is None, reason, len(got))
    return out
