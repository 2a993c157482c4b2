"""Check a Spark result against its DuckDB oracle.

The canonical form is the one the repository's correctness gate uses:
columns sorted by name, object columns stringified, rows sorted, then
an exact comparison of dtype kinds and stringified values (integer
widths may differ; nothing else may, and floats get no tolerance).
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, exp):
    """Return None when the canonical frames match, else the first difference."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns spark={list(got.columns)} duckdb={list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows spark={len(got)} duckdb={len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        ka, kb = a.dtype.kind, b.dtype.kind
        if ka != kb and not (ka in "iu" and kb in "iu"):
            return f"column {c} dtype spark={a.dtype} duckdb={b.dtype}"
        bad = a.astype(str) != b.astype(str)
        if bad.any():
            i = bad[bad].index[0]
            return f"column {c} row {i}: spark={a.iloc[i]!r} duckdb={b.iloc[i]!r}"
    return None


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check(con, sql, result_dir):
    """Compare the parquet result in `result_dir` with `sql` run in DuckDB."""
    if not sql:
        return "no oracle SQL for this entry"
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no Spark result written"
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    try:
        exp = con.execute(sql).df()
    except duckdb.Error as e:
        return f"oracle SQL failed: {e}"
    return compare(got, exp)
