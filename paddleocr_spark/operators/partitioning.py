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

from pyspark.sql import functions as F

from paddleocr_spark.sources.tables import (
    SCHEMAS,
    derived_table,
    load_table,
    table_path,
)

__all__ = ["DAY_LO", "DAY_HI", "PARTITIONED_EVENTS_SCHEMA", "epoch_day",
           "ensure_partitioned_events", "partitioned_events_agg"]

# the driver's events generator spans epoch days 19723..19752 at every
# sf; this window keeps 10 of the 30 day-partitions (prunes 2/3)
DAY_LO, DAY_HI = 19730, 19739


def epoch_day(col: str = "ts"):
    return F.floor(F.unix_timestamp(col) / 86400).cast("long")


# what ensure_partitioned_events writes: the events columns, then the
# day key as partition discovery types it
PARTITIONED_EVENTS_SCHEMA = SCHEMAS["events"] + ", event_day int"


def ensure_partitioned_events(spark, sf_dir: str) -> str:
    """Write the events table day-partitioned under the repo cache,
    once per source (the once-per-ingest layout cost, like the
    bucketed-pair write); ``derived_table`` keys it by the source's
    files, so a regenerated or different events table gets a layout of
    its own. Returns the layout directory."""
    return derived_table(
        "partitioned_events", "v1", [table_path(sf_dir, "events")], (),
        lambda out: load_table(spark, sf_dir, "events")
        .withColumn("event_day", epoch_day())
        .write.partitionBy("event_day").parquet(out))


def partitioned_events_agg(spark, sf_dir: str):
    """CORRECTNESS query: day-windowed aggregation over the partitioned
    layout. The window predicate lands in the scan's PartitionFilters
    (plan-gated), so only 10 of 30 day directories are ever read; the
    values are layout-independent (the oracle filters the raw table)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = ensure_partitioned_events(spark, sf_dir)
    ev = spark.read.schema(PARTITIONED_EVENTS_SCHEMA).parquet(path)
    return (ev.where(F.col("event_day").between(DAY_LO, DAY_HI))
            .groupBy("event_day", "event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .withColumn("event_day", F.col("event_day").cast("long"))
            .orderBy("event_day", "event_type"))
