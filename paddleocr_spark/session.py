"""SparkSession factory with scale-aware defaults.

Single place for the physical-execution knobs the pipeline relies on:
AQE (runtime coalesce + skew-join split), Arrow for all pandas UDF
traffic, and a small Arrow batch size — media fixture rows carry
~40 KB of tensor bytes each, so the default 10k-records-per-batch
would materialize ~400 MB pandas batches per task; 512 keeps peak
executor memory flat at any scale.

Python workers start from ``paddleocr_spark.worker_daemon`` (set as
``spark.python.daemon.module``), which takes pyspark's archives off the
workers' ``sys.path`` so a Python task's fixed setup cost reads no zip
or jar directory. It is set only where the workers can import this
package: from the working directory, ``PYTHONPATH`` or site-packages.
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


def _workers_import_package() -> bool:
    """Whether a Python worker started here finds this package: its
    ``sys.path`` is the working directory, ``PYTHONPATH`` and
    site-packages. A daemon module the worker cannot import would fail
    every Python stage of the session."""
    import site

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages()]
    return any(p and os.path.realpath(p) == os.path.realpath(root)
               for p in seen)


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
    if _workers_import_package():
        b = b.config("spark.python.daemon.module",
                     "paddleocr_spark.worker_daemon")
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
