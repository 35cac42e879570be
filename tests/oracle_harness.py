"""Local stand-in for the driver's CORRECTNESS check: run each
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables; compare row counts, column names, and
order-insensitive stringified values."""

from __future__ import annotations

import math

from paddleocr_spark.sources.tables import TABLES


def duckdb_run(sql: str, sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{sf_dir}/{t}.parquet'")
    return con.sql(sql).df()


def _norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    return str(v)


def normalize_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_value(r[i]) for i in order) for r in rows)


def compare(name: str, spark_df, duck_df):
    s_cols = sorted(c.lower() for c in spark_df.columns)
    d_cols = sorted(c.lower() for c in duck_df.columns)
    if s_cols != d_cols:
        return f"{name}: column mismatch spark={s_cols} duck={d_cols}"
    s_rows = normalize_rows(list(spark_df.columns),
                            [tuple(r) for r in spark_df.collect()])
    d_rows = normalize_rows(list(duck_df.columns),
                            [tuple(r) for r in duck_df.itertuples(index=False)])
    if len(s_rows) != len(d_rows):
        return (f"{name}: row count mismatch spark={len(s_rows)} "
                f"duck={len(d_rows)}")
    if s_rows != d_rows:
        diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
        return f"{name}: value mismatch, first diffs: {diffs}"
    return None
