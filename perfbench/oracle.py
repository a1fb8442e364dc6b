"""DuckDB oracle for the `analytics` check pass.

The benchmark JVM writes each bench query's answer as parquet plus the
queries' oracle SQL (`SparkEntry.oracleSql`); this module runs the SQL
over the same generated tables and compares the two answers the way the
engine's correctness board does: columns sorted by name, rows sorted by
every column, dtype kinds equal, values exact (floats bitwise).
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _kind(dtype):
    k = dtype.kind
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}.get(k, "obj")


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


# MinHash LSH (8 bands of 4 hashes) finds a pair of Jaccard J only with
# probability 1 - (1 - J^4)^8, while its oracle lists every pair over the
# threshold: its pairs must be a subset of the oracle's, each one exact.
APPROXIMATE = {"q25_minhash_lsh"}


def compare(spark_df, duck_df, subset=False):
    """None when equal (or, for `subset`, contained), else why not."""
    ka = {c: _kind(spark_df[c].dtype) for c in spark_df.columns}
    kb = {c: _kind(duck_df[c].dtype) for c in duck_df.columns}
    a, b = _normalize(spark_df), _normalize(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    bad = [c for c in a.columns if ka[c] != kb[c]]
    if bad:
        return f"dtype kinds differ on {bad}"
    if subset:
        extra = set(a.itertuples(index=False)) - set(b.itertuples(index=False))
        return f"{len(extra)} rows not in the oracle, e.g. {min(extra)}" if extra else None
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        same = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
        if not same.all():
            i = (~same).idxmax()
            return f"column {c} row {i}: {a[c][i]!r} vs oracle {b[c][i]!r}"
    return None


def check(answers_dir, tables_dir):
    """[(query, reason)] for every answer that differs from its oracle.
    A query without an answer (it failed in the JVM) is already counted
    there; a query without oracle SQL is checked in the JVM (an untimed
    rerun must give its check-pass row count and hash)."""
    with open(os.path.join(answers_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for q, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(answers_dir, q, "*.parquet"))
        if not files:
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            why = compare(spark_df, con.execute(sql).df(), q in APPROXIMATE)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"
        if why:
            bad.append((q, why))
    con.close()
    return bad
