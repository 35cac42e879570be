"""Partition-granular checkpoint/resume for the extraction job.

North-rule requirement: a failed 10^12-doc run must resume at partition
granularity with per-partition lineage + metrics. The reference's
analogue is epoch-level ``.pth``+``.states`` checkpointing
(``toddleocr/config.py:453-479, 710-734``); at Spark scale the natural
unit is a deterministic hash bucket of doc_id.

Design (Iceberg in production — ``MERGE``/append per partition with
snapshot isolation; plain parquet directories here. Verified round 2:
the image ships NO iceberg-spark-runtime jar anywhere on disk
(``find / -name '*iceberg*'`` → none, no pyiceberg either) and has no
network to fetch one, so ``spark.jars``/``spark.jars.packages`` cannot
load it; the parquet fallback is the only option and the logic is
identical):

- output written under   <out>/spans/bucket=<b>/
- checkpoint rows under  <out>/checkpoint/ with schema
  (run_id, bucket, n_buckets, doc_count, span_count, wall_ms,
   input_snapshot, code_version, completed_at_ms) — n_buckets,
   input_snapshot AND code_version are validated on resume: the same
   run_id can never continue under a different partitioning, over a
   regenerated input, or with changed extraction code (any of which
   would silently mix lineages in one spans directory)
- resume = anti-join pending buckets against completed checkpoint rows
- a bucket's spans are written to a temp directory and moved into
  place with ``os.rename`` (atomic on POSIX) before its checkpoint row
  is appended: readers never observe a half-written bucket, and a
  crash between the move and the row re-processes that bucket only.
  (On an object store rename is not atomic; production uses an Iceberg
  per-partition commit instead — see module note above.)
"""

from __future__ import annotations

import os
import shutil
import time

from paddleocr_spark import __version__
from paddleocr_spark.operators.extract import auto_salt_width, extract_spans

__all__ = ["run_with_checkpoint", "completed_buckets", "read_output"]

CHECKPOINT_SCHEMA = ("run_id string, bucket int, n_buckets int, "
                     "doc_count long, "
                     "span_count long, wall_ms long, input_snapshot string, "
                     "code_version string, completed_at_ms long")


def completed_buckets(spark, out_dir: str, run_id: str,
                      n_buckets: int | None = None,
                      input_snapshot: str | None = None,
                      code_version: str | None = None) -> set[int]:
    """Buckets already checkpointed for ``run_id``. Each given lineage
    field (``n_buckets``, ``input_snapshot``, ``code_version``) is
    validated against the recorded rows and a mismatch raises:
    resuming under a different partitioning would silently skip wrong
    buckets and drop documents; resuming over a regenerated input or
    with changed extraction code would silently mix two lineages in
    one spans directory (half snapshot-A, half snapshot-B) with no
    error at read time."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    ckpt = os.path.join(out_dir, "checkpoint")
    try:
        df = spark.read.schema(CHECKPOINT_SCHEMA).parquet(ckpt)
    except AnalysisException as e:
        # only "nothing checkpointed yet" means a fresh start; any
        # OTHER read error (permissions, corruption) must surface —
        # swallowing it would silently restart a 10^12-doc run
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return set()
        raise
    rows = (df.where(F.col("run_id") == run_id)
            .select("bucket", "n_buckets", "input_snapshot",
                    "code_version").distinct().collect())
    for field, want, why in (
            ("n_buckets", n_buckets,
             "wrong buckets would be skipped and documents dropped"),
            ("input_snapshot", input_snapshot,
             "completed buckets hold a different input's output"),
            ("code_version", code_version,
             "completed buckets were produced by different code")):
        if want is None:
            continue
        seen = {getattr(r, field) for r in rows}
        if seen - {want}:
            raise ValueError(
                f"run_id {run_id!r} was checkpointed with "
                f"{field}={sorted(seen)!r}; refusing to resume with "
                f"{field}={want!r} ({why})")
    return {r.bucket for r in rows}


def run_with_checkpoint(spark, docs_df, store_path: str, out_dir: str,
                        run_id: str, n_buckets: int = 8,
                        input_snapshot: str = "synthetic",
                        fail_after_buckets: int | None = None,
                        salt_width: int | None = None):
    """Process all not-yet-completed buckets; returns the list of
    buckets processed this invocation. ``store_path`` is the media
    store's parquet directory, read by path only and decoded once for
    all buckets. ``fail_after_buckets`` simulates a mid-run crash for
    the resume test. ``salt_width`` overrides the salted-ordering
    bucket width (extract_spans.SALT_WIDTH default); 0 forces the
    plain per-doc window."""
    from pyspark.sql import functions as F

    done = completed_buckets(spark, out_dir, run_id, n_buckets,
                             input_snapshot=input_snapshot,
                             code_version=__version__)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        # fully-resumed run: nothing to do, so don't pay the store
        # decode or the salt-statistic pass below
        return []
    spans_dir = os.path.join(out_dir, "spans")
    ckpt_dir = os.path.join(out_dir, "checkpoint")
    bucket_of = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")

    # the store decode is the job's dominant cost and is the same for
    # every bucket — decode ONCE and share (was O(n_buckets x decode));
    # likewise resolve the auto-salt statistic once over all docs
    from paddleocr_spark.functions.udfs import decode_media_store
    from paddleocr_spark.operators._cache import eager_persist, release_one

    if salt_width is None:
        salt_width = auto_salt_width(docs_df)
    fragments = eager_persist(decode_media_store(spark, store_path))

    processed = []
    try:
        for i, b in enumerate(todo):
            if fail_after_buckets is not None and i >= fail_after_buckets:
                break
            t0 = time.time()
            docs_b = docs_df.where(bucket_of == b)
            out = extract_spans(docs_b, store_path, salt_width=salt_width,
                                fragments_df=fragments)
            # write to a temp dir, then os.rename into place: readers
            # never see a half-written bucket (POSIX rename is atomic;
            # production = Iceberg per-partition commit). A retried
            # bucket's stale directory is moved aside first — the
            # delete-then-write window of a plain overwrite is gone.
            final_dir = os.path.join(spans_dir, f"bucket={b}")
            tmp_dir = os.path.join(spans_dir, f".tmp-bucket={b}")
            trash_dir = os.path.join(spans_dir, f".trash-bucket={b}")
            shutil.rmtree(tmp_dir, ignore_errors=True)
            shutil.rmtree(trash_dir, ignore_errors=True)
            out.write.mode("overwrite").parquet(tmp_dir)
            if os.path.exists(final_dir):
                os.rename(final_dir, trash_dir)
            os.rename(tmp_dir, final_dir)
            shutil.rmtree(trash_dir, ignore_errors=True)
            written = spark.read.schema(out.schema).parquet(final_dir)
            stats = written.agg(
                F.countDistinct("doc_id").alias("docs"),
                F.count("*").alias("spans")).collect()[0]
            wall_ms = int((time.time() - t0) * 1000)
            row = [(run_id, b, n_buckets, int(stats.docs), int(stats.spans),
                    wall_ms, input_snapshot, __version__,
                    int(time.time() * 1000))]
            (spark.createDataFrame(row, schema=CHECKPOINT_SCHEMA)
             .write.mode("append").parquet(ckpt_dir))
            processed.append(b)
    finally:
        # a crash mid-bucket must not leave the fragment cache pinned
        # on a long-lived session (the caller retries run_with_checkpoint
        # on the same session to resume). Release ONLY the cache this
        # function created — a session-wide release would unpersist
        # unrelated caches a caller is still filling (re-introducing
        # the lazy-cache race _cache documents).
        release_one(fragments)
    return processed


def read_output(spark, out_dir: str):
    """Every committed bucket's spans plus its ``bucket``, read with a
    bucket footer's schema (on the driver: no Spark job)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    spans = os.path.join(out_dir, "spans")
    footer = min(glob.glob(os.path.join(spans, "bucket=*", "*.parquet")))
    return (spark.read.schema(from_arrow_schema(pq.read_schema(footer))
                              .add("bucket", "integer"))
            .parquet(spans))
