"""spark-submit entry point for the extraction job — the north rule's
launch mode made literal:

    zip -r paddleocr_spark.zip paddleocr_spark
    spark-submit --py-files paddleocr_spark.zip submit_extract.py \\
        --docs  <parquet dir/file of (doc_id, spans)> \\
        --media <media store directory> \\
        --out   <output dir>  [--run-id r1] [--buckets 8]

On a cluster the same command gains ``--master yarn`` (or k8s) and
executor counts; the job itself is unchanged — nothing in the pipeline
holds driver state or depends on local paths. Re-running the same
command after a failure resumes at bucket granularity via the
checkpoint table (``paddleocr_spark.operators.checkpoint``); the
summary printed at the end reads back the per-bucket lineage +
metrics rows.

The SparkSession is obtained with ``getOrCreate`` and NO master
override, so spark-submit's ``--master`` wins; running the script
directly (``python submit_extract.py``) falls back to ``local[*]``.

It also keeps Spark's stock Python worker daemon, not
``paddleocr_spark.worker_daemon`` (which ``session.get_spark`` sets):
under ``--py-files`` the package reaches a worker's ``sys.path`` per
task, after the daemon has started, so the daemon cannot import it.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True,
                    help="parquet of (doc_id, spans) documents")
    ap.add_argument("--media", required=True, help="media store directory")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--salt-width", type=int, default=None,
                    help="offset-bucket width for the salted per-doc "
                         "ordering (default extract_spans.SALT_WIDTH; "
                         "0 = plain per-doc window)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = (SparkSession.builder.appName("paddleocr_spark_extract")
               .config("spark.sql.adaptive.enabled", "true"))
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(args.shuffle_partitions))
    spark = builder.getOrCreate()

    from pyspark.sql import functions as F

    from paddleocr_spark.corpus import docs_schema
    from paddleocr_spark.operators.checkpoint import (
        completed_buckets,
        run_with_checkpoint,
    )

    docs = spark.read.schema(docs_schema()).parquet(args.docs)
    already = sorted(completed_buckets(spark, args.out, args.run_id))
    processed = run_with_checkpoint(
        spark, docs, args.media, args.out, args.run_id,
        n_buckets=args.buckets, salt_width=args.salt_width)

    ckpt = (spark.read.parquet(f"{args.out}/checkpoint")
            .where(F.col("run_id") == args.run_id))
    summary = ckpt.agg(
        F.countDistinct("bucket").alias("buckets"),
        F.sum("doc_count").alias("docs"),
        F.sum("span_count").alias("spans"),
        F.sum("wall_ms").alias("wall_ms")).collect()[0]
    print(json.dumps({
        "run_id": args.run_id,
        "resumed_buckets_skipped": already,
        "buckets_processed_now": processed,
        "buckets_total": int(summary.buckets),
        "docs": int(summary.docs),
        "spans": int(summary.spans),
        "bucket_wall_ms_sum": int(summary.wall_ms),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
