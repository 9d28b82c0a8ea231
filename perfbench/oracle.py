"""DuckDB oracle compare for the query_catalog workload.

Each key's Spark result (parquet, written untimed after the timed noop
execution) is compared with DuckDB running `SparkEntry.oracleSql` on the
same tables: columns sorted by name, rows sorted, values
compared exactly per column after casting DuckDB's column to Spark's
dtype. This is the compare tools/check.py makes.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def same(spark_df, duck_df):
    """'ok' or a one-line reason the two results differ."""
    sp, du = norm(spark_df), norm(duck_df)
    if list(sp.columns) != list(du.columns):
        return f"columns spark={list(sp.columns)} duck={list(du.columns)}"
    if len(sp) != len(du):
        return f"rows spark={len(sp)} duck={len(du)}"
    for c in sp.columns:
        a, b = sp[c], du[c]
        try:
            b = b.astype(a.dtype)
        except (TypeError, ValueError):
            pass
        if not a.equals(b):
            return f"values differ in column {c}"
    return "ok"


def compare(tables, work, keys, corrupt=False):
    """Map each key to 'ok' or the reason it failed the oracle. With
    `corrupt` (self-test) each Spark result loses its last row first."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    out = {}
    for k in keys:
        try:
            files = sorted(glob.glob(os.path.join(work, "results", k, "*.parquet")))
            sp = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            if corrupt and sp is not None:
                sp = sp.iloc[:-1]
            if sp is None:
                out[k] = "no spark output"
            elif k not in sql:
                out[k] = "no oracle in SparkEntry.oracleSql"
            else:
                out[k] = same(sp, con.execute(sql[k]).fetchdf())
        except Exception as e:  # a broken oracle query is a failed check
            out[k] = f"{type(e).__name__}: {str(e)[:200]}"
    return out
