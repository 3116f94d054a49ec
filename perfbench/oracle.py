"""Grades the harness's query outputs against the DuckDB oracle.

Each query's output (parquet under <results>/<query>) is compared with the
query's `SparkEntry.oracleSql` text run by DuckDB over the same input tables,
normalized as `scripts/compare_oracle.py` does: columns sorted by name, rows
sorted by every column, exact values, then a strict pass on dtype kind and
float bit pattern. Queries without oracle SQL are graded on having output.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _scan(path):
    """DuckDB source for a table file or a Spark-written parquet directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(ours, ref):
    """None when equal, else a one-line reason."""
    kinds = {c: (ours[c].dtype.kind if c in ours else "?", ref[c].dtype.kind if c in ref else "?")
             for c in set(ours.columns) | set(ref.columns)}
    a, b = _norm(ours), _norm(ref)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs oracle {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError:
        diff = (a != b) & ~(a.isna() & b.isna())
        return f"value mismatch in {[c for c in a.columns if diff[c].any()]}"
    for c in a.columns:
        ka, kb = kinds[c]
        if ka != kb:
            return f"{c}: dtype kind {ka} vs {kb}"
        if ka == "f" and a[c].values.tobytes() != b[c].values.tobytes():
            return f"{c}: float bit pattern"
    return None


def grade(input_dir, results_dir, names):
    """{query: None if it matches the oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_scan(p)}")
    path = os.path.join(results_dir, "oracle_sql.json")
    oracle = json.load(open(path)) if os.path.exists(path) else {}
    out = {}
    for name in names:
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            out[name] = "no output"
            continue
        ours = con.execute(f"SELECT * FROM {_scan(os.path.join(results_dir, name))}").fetchdf()
        if name not in oracle:
            out[name] = None
            continue
        try:
            ref = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - an oracle error grades the query as failed
            out[name] = f"oracle SQL error: {e}"
            continue
        out[name] = _compare(ours, ref)
    return out
