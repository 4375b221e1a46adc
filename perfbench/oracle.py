"""Output checks against DuckDB, and metric units.

`verify` runs each query's oracle SQL (from `SparkEntry.oracleSql`) in
DuckDB over the catalog tables and compares it with the engine's
result as the benchmark stored it. Both sides go through pandas and are
compared as the sorted multiset of stringified rows, with columns
matched by name, so the check ignores row and column order.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<null>" if pd.isna(v) else repr(v)
    try:
        if not isinstance(v, (list, tuple)) and pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass  # arrays: pd.isna is elementwise
    return str(v)


def _rows(rel, order):
    df = rel.fetchdf()[order]
    return sorted(tuple(_cell(v) for v in t) for t in df.itertuples(index=False, name=None))


def _data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _oracle_rows(con, sql, cache_file):
    """The oracle's columns and sorted rows. DuckDB answers are cached
    by query text and input bytes, so a repeated seed skips the oracle."""
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cols, rows = json.load(f)
        return cols, [tuple(r) for r in rows]
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    rows = _rows(rel, cols)
    os.makedirs(os.path.dirname(cache_file), exist_ok=True)
    with open(cache_file, "w") as f:
        json.dump([cols, rows], f)
    return cols, rows


def verify(data_dir, reference_dir, oracle_sql, cache_dir):
    """Returns {query: ""} for a match, {query: reason} otherwise."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    digest = _data_digest(data_dir)
    out = {}
    for name, sql in oracle_sql.items():
        files = glob.glob(os.path.join(reference_dir, name, "*.parquet"))
        if not files:
            out[name] = "no stored result"
            continue
        key = hashlib.sha256((digest + sql).encode()).hexdigest()
        try:
            spark_rel = con.sql(f"SELECT * FROM '{reference_dir}/{name}/*.parquet'")
            cols, o = _oracle_rows(con, sql, os.path.join(cache_dir, f"{key}.json"))
            if sorted(spark_rel.columns) != cols:
                out[name] = f"columns {sorted(spark_rel.columns)} vs oracle {cols}"
                continue
            s = _rows(spark_rel, cols)
            if not o:
                out[name] = "oracle returned no rows"
            elif s != o:
                diff = next((i for i, (a, b) in enumerate(zip(s, o)) if a != b), min(len(s), len(o)))
                out[name] = (f"{len(s)} rows vs oracle {len(o)}; first difference at sorted row {diff}: "
                             f"{s[diff] if diff < len(s) else None} vs {o[diff] if diff < len(o) else None}")
            else:
                out[name] = ""
        except Exception as e:  # a broken oracle fails the check, not the run
            out[name] = f"{type(e).__name__}: {e}"
    return out
