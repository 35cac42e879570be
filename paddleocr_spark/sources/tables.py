"""The one reader of the fixture tables, and the one store of the tables
derived from them.

Every fixture table is read through ``load_table`` with the DDL schema
declared once in ``SCHEMAS``, so building a plan over it launches no
Spark job: a schema-less ``spark.read.parquet`` runs one job to infer
the schema from the footers before the plan exists. ``table_rows``
serves a table's row count from its parquet footers on the driver, again
with no Spark job. A table is either one parquet file or a directory of
part files (what ``DataFrame.write.parquet`` leaves); both shapes read
and count the same way. A table written with fewer columns than declared
reads the missing ones as null.

A derived table (link graph, near-dup edges, contamination grams, IVF
index, partitioned events, bucketed pair) is built once per corpus and
read many times, as the reference builds its dataset index once
(``toddleocr/datasets/lmdb.py:51-65``). ``derived_table`` decides its
key, location and commit; its builder declares its read schema.

These stand in for the reference's dataset classes (``SimpleDataSet``
at ``toddleocr/datasets/simple.py:10-93``, ``LMDBDataSet`` at
``toddleocr/datasets/lmdb.py:12-104``): a scan plus declarative
sampling/filtering instead of index arrays and resample loops. In
production they are Iceberg catalog tables (``spark.table``), whose
schema and row counts are catalog metadata in the same way; parquet here
(no Iceberg jars in the image).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from paddleocr_spark.cachedir import cache_root

__all__ = ["TABLES", "SCHEMAS", "table_path", "load_table", "table_rows",
           "derived_dir", "derived_table", "load_documents_sampled",
           "union_sources"]

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

# a derived table's record of its sources, inside its key directory
_SOURCES = "_sources.json"


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load_table(spark, sf_dir: str, name: str):
    return spark.read.schema(SCHEMAS[name]).parquet(table_path(sf_dir, name))


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from the parquet footers, read on the driver."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    files = ([path] if os.path.isfile(path) else
             [os.path.join(path, f) for f in os.listdir(path)
              if f.endswith(".parquet")])
    return sum(pq.read_metadata(f).num_rows for f in files)


def derived_dir(name: str, version: str, sources, params=()) -> str:
    """Where the derived table ``name`` lives: ``cache_root(name, ...)``
    under a hash of ``version``, the absolute path of each source table
    plus each of its files' (name, size, ``mtime_ns``), and the
    builder's ``params``. So a regenerated source, another corpus that
    shares a directory basename, or a changed builder gets a key of its
    own. Needs no SparkSession: an oracle finds what Spark built."""
    h = hashlib.md5(f"{version}\n{params!r}\n".encode())
    for src in map(os.path.abspath, sources):
        files = ([src] if os.path.isfile(src) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(src) for f in fs))
        h.update(f"{src}\n".encode())
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, src)}:{st.st_size}:"
                     f"{st.st_mtime_ns}\n".encode())
    return cache_root(name, f"{version}_{h.hexdigest()[:16]}")


def derived_table(name: str, version: str, sources, params, build) -> str:
    """``derived_dir(name, version, sources, params)``, built on first
    use by ``build(tmp)``, which writes the whole table into a fresh
    sibling directory that is then ``os.rename``d into place (the
    protocol of ``operators/checkpoint.py``'s buckets). An existing key
    directory is therefore a complete table; a build that loses the
    rename race to a concurrent one drops its copy.

    The build directory also gets ``_sources.json``, the sources'
    absolute paths (Spark's file index skips ``_`` files). After a
    commit, sibling keys of the same table whose recorded sources no
    longer all exist are deleted: no call can key to them again.
    In-flight builds (``*.tmp-*``) and keys without the file are left
    alone."""
    out = derived_dir(name, version, sources, params)
    if os.path.isdir(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = f"{out}.tmp-{uuid.uuid4().hex}"
    try:
        build(tmp)
        with open(os.path.join(tmp, _SOURCES), "w") as fh:
            json.dump([os.path.abspath(s) for s in sources], fh)
        os.rename(tmp, out)
    except OSError:
        if not os.path.isdir(out):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _evict_dead_keys(out)
    return out


def _evict_dead_keys(out: str) -> None:
    parent = os.path.dirname(out)
    for key in os.listdir(parent):
        path = os.path.join(parent, key)
        if path == out or ".tmp-" in key:
            continue
        try:
            with open(os.path.join(path, _SOURCES)) as fh:
                recorded = json.load(fh)
        except (OSError, ValueError):
            continue
        if not all(map(os.path.exists, recorded)):
            shutil.rmtree(path, ignore_errors=True)


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
