"""The one reader of the fixture tables.

Every fixture table is read through ``load_table`` with the DDL schema
declared once in ``SCHEMAS``, so building a plan over it launches no
Spark job: a schema-less ``spark.read.parquet`` runs one job to infer
the schema from the footers before the plan exists. ``table_rows``
serves a table's row count from its parquet footers on the driver, again
with no Spark job. A table is either one parquet file or a directory of
part files (what ``DataFrame.write.parquet`` leaves); both shapes read
and count the same way. A table written with fewer columns than declared
reads the missing ones as null.

These stand in for the reference's dataset classes (``SimpleDataSet``
at ``toddleocr/datasets/simple.py:10-93``, ``LMDBDataSet`` at
``toddleocr/datasets/lmdb.py:12-104``): a scan plus declarative
sampling/filtering instead of index arrays and resample loops. In
production they are Iceberg catalog tables (``spark.table``), whose
schema and row counts are catalog metadata in the same way; parquet here
(no Iceberg jars in the image).
"""

from __future__ import annotations

__all__ = ["TABLES", "SCHEMAS", "load_table", "table_rows",
           "load_documents_sampled", "union_sources"]

# the timestamps are timestamp_ntz: the fixtures were written without a
# time zone, and this is what Spark infers from their footers
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": ("c_custkey bigint, c_name string, c_nationkey int, "
                 "c_acctbal double, c_mktsegment string"),
    "supplier": ("s_suppkey bigint, s_name string, s_nationkey int, "
                 "s_acctbal double"),
    "part": ("p_partkey bigint, p_name string, p_brand string, "
             "p_type string, p_size int, p_retailprice double"),
    "orders": ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
               "o_totalprice double, o_orderdate timestamp_ntz, "
               "o_orderpriority string"),
    "lineitem": ("l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                 "l_linenumber int, l_quantity double, "
                 "l_extendedprice double, l_discount double, l_tax double, "
                 "l_returnflag string, l_linestatus string, "
                 "l_shipdate timestamp_ntz"),
    "events": ("event_id bigint, ts timestamp_ntz, user_id bigint, "
               "event_type string, value double, props string"),
    "documents": ("doc_id bigint, text string, lang string, source string, "
                  "n_chars bigint"),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}
TABLES = list(SCHEMAS)


def _path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load_table(spark, sf_dir: str, name: str):
    return spark.read.schema(SCHEMAS[name]).parquet(_path(sf_dir, name))


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from the parquet footers, read on the driver."""
    import os

    import pyarrow.parquet as pq

    path = _path(sf_dir, name)
    files = ([path] if os.path.isfile(path) else
             [os.path.join(path, f) for f in os.listdir(path)
              if f.endswith(".parquet")])
    return sum(pq.read_metadata(f).num_rows for f in files)


def load_documents_sampled(spark, sf_dir: str, ratio: float, seed: int = 42):
    """Multi-source sampling: the ``ratio_list`` mechanism of
    SimpleDataSet (``simple.py:39-45``) as a DETERMINISTIC hash filter
    (md5(seed:doc_id) mod 10^6 < ratio*10^6) rather than df.sample —
    same membership on every engine and every partition layout, so the
    DuckDB oracle reproduces the sample exactly, and at 10^12 rows the
    predicate is scan-side and partition-independent."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents")
    if ratio >= 1.0:
        return df
    from paddleocr_spark.operators.dedup import ratio_keep

    return df.where(
        ratio_keep(F, F.col("doc_id").cast("string"), ratio, seed))


def union_sources(*dfs):
    """Multi-label-file concatenation (``simple.py:39-45``) →
    unionByName."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out
