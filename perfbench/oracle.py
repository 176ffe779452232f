"""Compare query_suite results with their DuckDB oracles.

Each query's result (written by the warm-up sweep to `<qout>/<name>/`) is
compared with its oracle SQL run by DuckDB over the same input tables:
same column names, same row count, and equal values after sorting columns
by name and rows by every column. Non-float values compare as text; float
columns must match exactly (the oracles sum integral values, so summation
order cannot move them).
"""
import glob
import json
import os

import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(list(v)) if isinstance(v, np.ndarray) else str(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """'' when equal, else a short reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        if np.issubdtype(got[c].dtype, np.floating):
            ok = np.array_equal(a[c].to_numpy(float), b[c].to_numpy(float), equal_nan=True)
        else:
            ok = (a[c].astype(str).to_numpy() == b[c].astype(str).to_numpy()).all()
        if not ok:
            return f"values differ in column {c}"
    return ""


def check(work_dir, tables_dir):
    """name -> '' (match) or reason, for every query that has an oracle."""
    import duckdb
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name, sql in sorted(oracles.items()):
            files = glob.glob(os.path.join(work_dir, "qout", name, "*.parquet"))
            if not files:
                out[name] = "no result written"
                continue
            got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
            try:
                want = con.execute(sql).fetchdf()
            except Exception as e:  # noqa: BLE001 - reported as a mismatch
                out[name] = f"oracle error: {e}"
                continue
            out[name] = compare(got, want)
        return out
    finally:
        con.close()
