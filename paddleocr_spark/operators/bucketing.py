"""Bucketed (co-located) join support — the zero-shuffle layout for
the engine's repeated big-x-big equi-joins at 100 TB.

Spark bucketing pre-shuffles a table ONCE at write time: rows are
hash-partitioned into a fixed number of buckets on the join key and
each bucket is written as its own file set. Two tables bucketed the
same way join with NO Exchange on either side — the shuffle that
dominates a petabyte-scale join is paid once at ingest instead of on
every query. This is the storage-layout twin of the manifest planning
in ``functions/udfs.py``: the reference pays the equivalent cost when
it builds its dataset index up front (``toddleocr/datasets/
lmdb.py:51-65``); a Spark-first engine pays it in the table layout.

At the 100 TB design point the span<->media join of
``operators/extract.py`` is the natural customer (bucket both the
interleaved-docs table and the media store by ``media_ref``); the
demonstration here uses the TPC-H orders x lineitem pair because its
DuckDB oracle makes the result value-checkable, and the physical-plan
gate in ``tests/test_plan_quality.py`` proves the Exchange really
disappears — the property the layout exists to buy.

Catalog note: bucketing metadata lives in the session catalog, so with
the in-memory catalog each fresh session re-attaches the tables. The
bucketed parquet is written ONCE per source (``write_bucketed`` in
``sources/tables.derived_table``); sessions attach it with a ``CREATE
TABLE ... CLUSTERED BY ... LOCATION`` DDL, columns from ``SCHEMAS``
(``register_bucketed``) — the bucket-id <-> file mapping is carried by
the writer's file names, so re-declaring the same spec is exact
(value-guarded in the tests). With a persistent metastore (or Iceberg's
bucket partition transform) the DDL too happens once per ingest.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import functions as F

from paddleocr_spark.sources.tables import (
    SCHEMAS,
    derived_table,
    load_table,
    table_path,
)

__all__ = ["write_bucketed", "register_bucketed", "ensure_bucketed_pair",
           "bucketed_join_agg", "N_BUCKETS"]

N_BUCKETS = 8


def write_bucketed(df, name: str, path: str, keys, n_buckets: int = N_BUCKETS,
                   sort_cols=None) -> None:
    """Write ``df`` as bucketed parquet files at ``path``: hash-bucketed
    on ``keys`` (the once-only shuffle), optionally sorted inside each
    bucket so merge joins skip the per-task sort too. The table ``name``
    ``saveAsTable`` needs is dropped after the write (the files stay):
    ``register_bucketed`` attaches them."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = (df.write.mode("overwrite").format("parquet")
         .option("path", path).bucketBy(n_buckets, *keys))
    if sort_cols:
        w = w.sortBy(*([sort_cols] if isinstance(sort_cols, str)
                       else list(sort_cols)))
    w.saveAsTable(name)
    df.sparkSession.sql(f"DROP TABLE {name}")
    # record the written bucket count next to the data: re-attaching
    # with a DIFFERENT count than the files were hashed with would
    # silently drop join rows, so register_bucketed validates this
    with open(os.path.join(path, "_bucket_spec.json"), "w") as f:
        json.dump({"n_buckets": n_buckets,
                   "keys": keys,
                   "sort_cols": sort_cols}, f)


def register_bucketed(spark, name: str, path: str, key: str, schema: str,
                      n_buckets: int = N_BUCKETS) -> None:
    """Attach an already-bucketed parquet location to the session's
    catalog via DDL, its columns declared by the DDL string ``schema``
    (no footer job) — the bucket spec is catalog metadata,
    the bucket-id <-> file mapping lives in the writer's file names,
    so declaring the same spec over the same files is exact. This is
    the write-once production shape; correctness is guarded by the
    values test in test_plan_quality.py (a wrong bucket mapping would
    drop join rows, not just slow down). The count is validated
    against the _bucket_spec.json the writer left with the data — a
    mismatched declaration is exactly such a silent wrong-bucket
    mapping."""
    with open(os.path.join(path, "_bucket_spec.json")) as f:
        written = json.load(f)
    if written["n_buckets"] != n_buckets:
        raise ValueError(
            f"bucketed data at {path} was written with "
            f"{written['n_buckets']} buckets; refusing to register "
            f"it as {n_buckets}")
    # the keys/sortedness must match too: declaring CLUSTERED BY a
    # column the files were NOT hashed on makes Spark elide the
    # Exchange against the wrong bucket mapping — silent dropped join
    # rows, no error
    if written["keys"] != [key]:
        raise ValueError(
            f"bucketed data at {path} was hashed on {written['keys']}; "
            f"refusing to register it as CLUSTERED BY ({key})")
    wsort = written.get("sort_cols")
    wsort = [wsort] if isinstance(wsort, str) else wsort
    # declare SORTED BY only when the files really carry the
    # bucket-local sort: declaring it over unsorted runs makes Spark
    # elide the per-task sort and merge-join garbage
    sorted_by = f"SORTED BY ({key}) " if wsort == [key] else ""
    spark.sql(
        f"CREATE TABLE {name} ({schema}) USING parquet "
        f"CLUSTERED BY ({key}) {sorted_by}"
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'")


def ensure_bucketed_pair(spark, sf_dir: str, n_buckets: int = N_BUCKETS):
    """Register ``b_orders_<key>``/``b_lineitem_<key>`` bucketed on
    orderkey for ``sf_dir``, ``<key>`` being the layout's store key, so
    two corpora never share a catalog name. The bucketed parquet is
    written ONCE per source (the ingest-time shuffle); later sessions
    only attach the existing location — no data rewrite."""
    names = []
    for sub, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        def build(out, sub=sub, key=key):
            write_bucketed(load_table(spark, sf_dir, sub),
                           f"b_{sub}_w{uuid.uuid4().hex}", out, key,
                           n_buckets, sort_cols=key)

        path = derived_table(f"bucketed_{sub}", "v1",
                             [table_path(sf_dir, sub)], n_buckets, build)
        name = f"b_{sub}_{os.path.basename(path)}"
        if not spark.catalog.tableExists(name):
            register_bucketed(spark, name, path, key, SCHEMAS[sub],
                              n_buckets)
        names.append(name)
    return tuple(names)


def bucketed_join_agg(spark, sf_dir: str):
    """CORRECTNESS query: the co-located orders x lineitem join,
    aggregated per order priority. Values are layout-independent (the
    oracle joins the raw parquet); what the layout buys is the plan —
    no Exchange on either join side, gated in test_plan_quality.py."""
    orders_t, lineitem_t = ensure_bucketed_pair(spark, sf_dir)
    o = spark.table(orders_t)
    li = spark.table(lineitem_t)
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").cast("long").alias("n_items"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
                 F.countDistinct("o_orderkey").alias("n_orders"))
            .orderBy("o_orderpriority"))
