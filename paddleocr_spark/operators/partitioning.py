"""Partition-pruned scans — the other half of the storage-layout story
(``operators/bucketing.py`` covers join co-location; this covers
time-range elimination).

A 100 TB event/telemetry table is written partitioned by an epoch-day
column; any query with a day predicate then plans a scan of ONLY the
matching partition directories — Catalyst partition pruning eliminates
the rest at planning time, before a single byte is read. The epoch-day
key (``floor(unix_timestamp(ts)/86400)``) is integer and
timezone-proof, the same oracle-safe idiom as ``event_hourly``.

The plan gate in ``tests/test_plan_quality.py`` asserts the scan node
carries the day bounds as ``PartitionFilters`` (planning-time
elimination), not ordinary data filters, and that the unpartitioned
control scan of the same data cannot prune. ``partitioned_events_agg``
value-checks the result against the raw table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from paddleocr_spark.sources.tables import load_table

__all__ = ["DAY_LO", "DAY_HI", "epoch_day", "ensure_partitioned_events",
           "partitioned_events_agg"]

# the driver's events generator spans epoch days 19723..19752 at every
# sf; this window keeps 10 of the 30 day-partitions (prunes 2/3)
DAY_LO, DAY_HI = 19730, 19739


def epoch_day(col: str = "ts"):
    return F.floor(F.unix_timestamp(col) / 86400).cast("long")


def _cache_root() -> str:
    from paddleocr_spark.cachedir import cache_root

    return cache_root("partitioned")


def _source_fingerprint(src: str) -> str:
    """Identity of the source table: absolute path + (size, mtime) of
    every file under it. A regenerated source (new mtime/size) or a
    different directory that happens to share a basename therefore
    invalidates the cached layout instead of silently serving stale
    data to a CORRECTNESS query whose oracle reads the fresh raw
    table."""
    import hashlib

    h = hashlib.md5(os.path.abspath(src).encode())
    if os.path.isdir(src):
        files = sorted(
            os.path.join(r, f) for r, _, fs in os.walk(src) for f in fs)
    else:
        files = [src]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.basename(f)}:{st.st_size}:"
                 f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_partitioned_events(spark, sf_dir: str) -> str:
    """Write the events table day-partitioned under the repo cache
    (idempotent via a fingerprinted DONE marker; the once-per-ingest
    layout cost, like the bucketed-pair write). The marker records the
    source's content fingerprint — a rewrite happens whenever the
    source changed, not merely whenever some directory with the same
    basename was cached once."""
    src = os.path.join(sf_dir, "events.parquet")
    fp = _source_fingerprint(src)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(_cache_root(), tag, "events")
    marker = os.path.join(path, "_DONE")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fp:
                return path
    (load_table(spark, sf_dir, "events")
     .withColumn("event_day", epoch_day())
     .write.mode("overwrite").partitionBy("event_day").parquet(path))
    with open(marker, "w") as fh:
        fh.write(fp + "\n")
    return path


def partitioned_events_agg(spark, sf_dir: str):
    """CORRECTNESS query: day-windowed aggregation over the partitioned
    layout. The window predicate lands in the scan's PartitionFilters
    (plan-gated), so only 10 of 30 day directories are ever read; the
    values are layout-independent (the oracle filters the raw table)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = ensure_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (ev.where(F.col("event_day").between(DAY_LO, DAY_HI))
            .groupBy("event_day", "event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("event_day", F.col("event_day").cast("long"))
            .orderBy("event_day", "event_type"))
