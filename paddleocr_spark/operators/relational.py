"""Relational operator coverage over the TPC-H-ish tables.

These map the reference's aggregation/sort/top-k machinery (SURVEY.md
§2.4-2.5) onto their native Spark forms and double as plan-quality
probes: pricing_summary must show partial aggregation + pushed filters,
top-k must be a single window, the star join must broadcast every
dimension.
"""

from __future__ import annotations

from paddleocr_spark.sources.tables import load_table

__all__ = [
    "pricing_summary", "revenue_by_region", "top_customers_per_nation",
    "event_hourly", "event_sessions", "threshold_sweep",
    "event_type_majority",
]


def pricing_summary(spark, sf_dir: str):
    """TPC-H Q1 shape: scan-filter → groupBy partial/final agg →
    sort. The analogue of RecMetric/DetMetric partial+final
    accumulation (toddleocr/metrics/rec.py:10-59)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").cast("long").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def revenue_by_region(spark, sf_dir: str):
    """Star join: region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem.
    Only the TRUE dimensions (region: 5 rows, nation: 25 rows) carry a
    broadcast hint — orders and customer are fact-scale tables that
    grow with sf, so forcing them broadcast would OOM at any real
    scale; their joins are left to AQE (which still broadcasts them
    when a run's statistics say they fit)."""
    from pyspark.sql import functions as F

    li, o, c, n, r = (load_table(spark, sf_dir, t) for t in (
        "lineitem", "orders", "customer", "nation", "region"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").cast("long").alias("n_lines"))
            .orderBy("r_name"))


def top_customers_per_nation(spark, sf_dir: str, k: int = 3):
    """Top-k per group via window — the relational form of the
    reference's top-k NMS candidate cap (picodet.py:170-174)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (o.groupBy("o_custkey")
             .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend")))
    joined = c.join(spend, c.c_custkey == spend.o_custkey)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("total_spend"), F.asc("c_custkey"))
    return (joined.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
            .select("c_nationkey", "rank", "c_custkey", "total_spend"))


def event_hourly(spark, sf_dir: str):
    """Tumbling 1-hour aggregation keyed on epoch-hour (timezone-proof
    for the oracle compare)."""
    from pyspark.sql import functions as F

    # deliberately (re)pinned here, not only in session.py: the
    # CORRECTNESS driver runs these queries under ITS OWN session,
    # which this repo does not build — the UTC pin is load-bearing for
    # the DuckDB timestamp compare on any host
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    hour = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    return (ev.groupBy(hour.alias("epoch_hour"), "event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .orderBy("epoch_hour", "event_type"))


def event_sessions(spark, sf_dir: str, gap_minutes: int = 30):
    """Sessionization: lag + gap>threshold cumsum — per-user session
    counts and mean session length."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # deliberately (re)pinned here, not only in session.py: the
    # CORRECTNESS driver runs these queries under ITS OWN session,
    # which this repo does not build — the UTC pin is load-bearing for
    # the DuckDB timestamp compare on any host
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess = (ev.withColumn("new_sess", new_sess)
            .withColumn("session_id",
                        F.sum("new_sess").over(
                            w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id")
            .agg(F.max("session_id").cast("long").alias("n_sessions"),
                 F.count("*").cast("long").alias("n_events"))
            .orderBy("user_id"))


def threshold_sweep(spark, sf_dir: str):
    """Multi-threshold bucketed aggregation — the DetFCEMetric pattern
    (score thresholds 0.3..0.9 → per-threshold counts → best;
    toddleocr/metrics/det.py:56-135) applied to event values."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    thresholds = F.array(*[F.lit(t / 10.0) for t in range(3, 10)])
    return (ev.select("value", F.explode(thresholds).alias("thresh"))
            .groupBy("thresh")
            .agg(F.sum(F.when(F.col("value") >= F.col("thresh"), 1)
                       .otherwise(0)).cast("long").alias("n_above"),
                 F.count("*").cast("long").alias("n_total"))
            .withColumn("frac_above",
                        F.round(F.col("n_above") / F.col("n_total"), 6))
            .orderBy("thresh"))


def event_type_majority(spark, sf_dir: str):
    """Majority vote per user — the SER segment majority vote
    (np.bincount().argmax(), toddleocr/postprocess/vqa.py:142-143) as a
    count + rank-1 window with deterministic tie-break."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n"), F.asc("event_type"))
    return (counts.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("user_id", F.col("event_type").alias("majority_type"),
                    F.col("n").alias("votes"))
            .orderBy("user_id"))
