"""DuckDB oracle check for the corpus operators.

Each operator's Spark output (written once per run, outside the timed
passes) must equal its oracle SQL (`SparkEntry.oracleSql`) run in
DuckDB over the same generated parquet tables, bit for bit, after the
strict canonical form: columns sorted by name, timestamps as ISO
strings, other objects as strings, rows sorted by every column.
"""
import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

TABLES = ("documents", "embeddings", "events")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), kind="mergesort") \
        .reset_index(drop=True)


def frame_hash(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def compare(got, want):
    """None when equal under the strict rule, else the reason."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return "columns %s != %s" % (list(g.columns), list(w.columns))
    kinds = [c for c in g.columns
             if g[c].dtype.kind in "if" and w[c].dtype.kind in "if"
             and (g[c].dtype.kind == "f") != (w[c].dtype.kind == "f")]
    if kinds:
        return "int/float mismatch on %s" % kinds
    if len(g) != len(w):
        return "rows %d != %d" % (len(g), len(w))
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return "value mismatch: %s" % str(e)[:300]
    return None


def _oracle_frame(con, sql, input_sha, cache_dir):
    """The oracle's result is a pure function of the inputs and the SQL,
    so it is cached under the build directory across runs."""
    key = hashlib.sha256((input_sha + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".parquet")
    if os.path.isfile(path):
        return pd.read_parquet(path)
    want = con.sql(sql).df()
    tmp = "%s.tmp%d" % (path, os.getpid())
    want.to_parquet(tmp)
    os.replace(tmp, path)
    return want


def _check(input_dir, out_dir, name, sql, input_sha, cache_dir):
    if sql is None:
        return {"name": name + ".oracle", "ok": False,
                "detail": "no oracle registered"}
    con = duckdb.connect(config={"threads": 2})
    try:
        for t in TABLES:
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (
                t, os.path.join(input_dir, t + ".parquet")))
        got = pd.read_parquet(os.path.join(out_dir, name))
        reason = compare(got, _oracle_frame(con, sql, input_sha, cache_dir))
        detail = reason or frame_hash(canon(got))
    except Exception as e:  # a missing output or an oracle error
        reason = detail = "%s: %s" % (type(e).__name__, e)
    finally:
        con.close()
    return {"name": name + ".oracle", "ok": reason is None, "detail": detail}


def compare_outputs(input_dir, out_dir, oracles, input_sha, cache_dir,
                    workers=4):
    """One check per operator; oracles run concurrently (the JVM has
    exited by now, so nothing timed shares the machine)."""
    os.makedirs(cache_dir, exist_ok=True)
    with ThreadPoolExecutor(workers) as ex:
        return list(ex.map(
            lambda n: _check(input_dir, out_dir, n, oracles[n], input_sha,
                             cache_dir), sorted(oracles)))
