"""SparkSession factory with scale-aware defaults.

Single place for the physical-execution knobs the pipeline relies on:
AQE (runtime coalesce + skew-join split), Arrow for all pandas UDF
traffic, and a small Arrow batch size — media fixture rows carry
~40 KB of tensor bytes each, so the default 10k-records-per-batch
would materialize ~400 MB pandas batches per task; 512 keeps peak
executor memory flat at any scale.
"""

from __future__ import annotations

import os

__all__ = ["get_spark", "default_parallelism"]


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_memory() -> str:
    """24g, capped at half the host's RAM: a heap the host cannot hold
    lets the JVM grow until the kernel kills it instead of collecting."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 << 10, ram >> 21)}m"


def get_spark(app_name: str = "paddleocr_spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra_conf):
    from pyspark.sql import SparkSession

    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or cores
    b = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_memory()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
