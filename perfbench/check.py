"""Oracle check for the benchmark's results.

Each op type's first result (a parquet dir the harness wrote) is compared
with its DuckDB twin from `graft.SparkEntry.oracleSql`, run over the same
input dir. The rules are the project's exact-dtype gate: columns sorted by
name, integer widths widened to int64, dates to datetime64[us], rows
sorted; then dtypes and values must match exactly.
"""
import datetime
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
        if np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        if df[c].dtype == object:
            first = df[c].dropna().iloc[0] if df[c].notna().any() else None
            if isinstance(first, datetime.date):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """None when equal, else a one-line reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    bad = [(c, str(got[c].dtype), str(want[c].dtype))
           for c in got.columns if got[c].dtype != want[c].dtype]
    if bad:
        return f"dtypes differ (spark vs oracle): {bad}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[-1][:200]
    return None


def check_results(results, oracle_sql):
    """results: [{name, dir, path}] -> {(name, dir): None | reason}."""
    verdicts = {}
    for r in results:
        key = (r["name"], r["dir"])
        try:
            con = duckdb.connect()
            con.sql("SET threads TO 2")
            for t in TABLES:
                p = os.path.join(r["dir"], f"{t}.parquet")
                if os.path.exists(p):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            want = con.sql(oracle_sql[r["name"]]).df()
            got = pd.read_parquet(r["path"])
            verdicts[key] = compare(got, want)
            con.close()
        except Exception as e:  # a crashing comparison is a failed check
            verdicts[key] = f"check error: {str(e)[:200]}"
    return verdicts
