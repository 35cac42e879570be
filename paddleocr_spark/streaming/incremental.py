"""Incremental extraction over a growing corpus.

The reference is bounded-batch only (SURVEY.md §2.10); its closest
analogue is the periodic re-run of eval every ``eval_batch_step`` iters
(``toddleocr/config.py:651-663``). On Spark, "new documents keep
arriving" is Structured Streaming: a file-source stream over the docs
table directory, ``foreachBatch`` running the SAME batch extract per
micro-batch (exactly-once via the streaming checkpoint + per-epoch
dynamic partition overwrite — a replayed epoch replaces its own rows),
so batch and streaming share one implementation.
"""

from __future__ import annotations

from paddleocr_spark.corpus import docs_schema
from paddleocr_spark.operators.extract import extract_spans
from paddleocr_spark.sources.tables import SCHEMAS

__all__ = ["incremental_extract", "windowed_event_counts",
           "streaming_exact_dedup", "streaming_fuzzy_dedup",
           "streaming_page_ingest", "streaming_partitioned_events"]


def incremental_extract(spark, docs_dir: str, media_df, out_dir: str,
                        checkpoint_dir: str):
    """Start a stream: new parquet files under ``docs_dir`` →
    extract_spans → epoch-partitioned write to ``out_dir``. Returns the
    StreamingQuery (caller drives it; tests use processAllAvailable()).

    Exactly-once: each epoch lands in its own ``epoch=<id>`` partition
    via dynamic partition overwrite, so a crash-replayed epoch REPLACES
    its own rows instead of appending duplicates (a blind append would
    be at-least-once only — the streaming checkpoint dedups source
    offsets, not sink writes).

    The media store is decoded ONCE, before the stream starts, and the
    persisted fragments are shared by every micro-batch — re-decoding
    the (static) store per epoch would multiply the job's dominant cost
    by the number of batches."""
    from pyspark.sql import functions as F

    from paddleocr_spark.functions.udfs import decode_media
    from paddleocr_spark.operators._cache import eager_persist

    fragments = eager_persist(decode_media(media_df))
    stream = (spark.readStream
              .schema(docs_schema())
              .option("maxFilesPerTrigger", 8)
              .parquet(docs_dir))

    def process(batch_df, epoch_id: int):
        (extract_spans(batch_df, media_df, fragments_df=fragments)
         .withColumn("epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch").parquet(out_dir))

    return (stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def windowed_event_counts(spark, events_stream_df, watermark: str = "1 hour",
                          window: str = "30 minutes"):
    """Watermarked tumbling-window counts — the streaming form of
    relational.event_hourly, tolerant of late data."""
    from pyspark.sql import functions as F

    return (events_stream_df
            # watermarks need TIMESTAMP; parquet yields TIMESTAMP_NTZ
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("sum_value")))


def streaming_exact_dedup(spark, docs_dir: str, watermark: str = "1 hour"):
    """Streaming exact deduplication — the training-data pipeline's
    "never emit the same content twice" guard as NATIVE Structured
    Streaming state: ``dropDuplicatesWithinWatermark`` on the
    normalized-content md5 keeps first-seen rows across micro-batches
    (state-store backed, exactly-once under the streaming checkpoint).

    State eviction: plain ``dropDuplicates([key])`` without the
    event-time column in the subset never evicts — state grows
    unboundedly despite a watermark on the stream.
    ``dropDuplicatesWithinWatermark`` keys state by md5 but expires
    each entry once the watermark passes its event time, so state is
    bounded by the dedup window (duplicates arriving farther apart
    than the watermark may be re-emitted — the documented trade of
    every watermark-bounded streaming dedup).

    Batch twin: ``operators.dedup.exact_dedup`` — same one-row-per-
    content guarantee; keeper IDENTITY differs within a micro-batch:
    the batch twin keeps min(doc_id), while dropDuplicatesWithinWatermark
    keeps an arbitrary row among same-batch duplicates (state-partition
    arrival order). Across batches the first-processed batch's keeper
    wins deterministically. Returns the deduped streaming DataFrame."""
    from pyspark.sql import functions as F

    stream = (spark.readStream
              .schema(SCHEMAS["documents"])
              .option("maxFilesPerTrigger", 4)
              .parquet(docs_dir))
    from paddleocr_spark.operators.dedup import norm_content

    norm = norm_content(F, F.col("text"))
    return (stream
            .withColumn("content_md5", F.md5(norm))
            .withColumn("arrival", F.current_timestamp())
            .withWatermark("arrival", watermark)
            .dropDuplicatesWithinWatermark(["content_md5"])
            .select("doc_id", "content_md5"))


def streaming_page_ingest(spark, files_dir: str, out_dir: str,
                          checkpoint_dir: str):
    """Incremental container ingest: new PDF/TIFF/image files landing
    under ``files_dir`` → page explode (corrupt containers quarantined
    as ERROR_PAGE rows, never failing the stream) → append page rows to
    ``out_dir``. The ingest-side half of check_and_read as a stream —
    at production scale this is the feed that keeps the media store
    growing while extraction streams behind it. Same implementation as
    the batch path (explode_pages); exactly-once like
    incremental_extract — per-epoch dynamic partition overwrite, so a
    crash-replayed epoch replaces its own rows. Returns the
    StreamingQuery."""
    from pyspark.sql import functions as F

    from paddleocr_spark.sources.media_files import explode_pages

    stream = (spark.readStream
              .format("binaryFile")
              # streaming sources require an explicit schema; this is
              # binaryFile's fixed one
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary")
              .option("maxFilesPerTrigger", 8)
              .load(files_dir))

    def process(batch_df, epoch_id: int):
        (explode_pages(batch_df, on_error="quarantine")
         .withColumn("epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch").parquet(out_dir))

    return (stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def streaming_partitioned_events(spark, events_dir: str, out_dir: str,
                                 checkpoint_dir: str):
    """Stream events into the SAME day-partitioned, pruning-ready
    layout that ``operators/partitioning.py`` builds in batch: a native
    parquet sink with ``partitionBy(event_day)``, so the landing table
    is immediately partition-prunable by any day-window query — no
    post-hoc re-layout job. Exactly-once via the streaming checkpoint;
    batch == streaming layout is asserted in the tests. Returns the
    StreamingQuery.

    The stream reads with the events table's declared schema, the one
    batch partitioning reads with, so it can start before any event
    has landed."""
    from paddleocr_spark.operators.partitioning import epoch_day

    stream = (spark.readStream
              .schema(SCHEMAS["events"])
              .option("maxFilesPerTrigger", 8)
              .parquet(events_dir)
              .withColumn("event_day", epoch_day()))
    return (stream.writeStream
            .format("parquet")
            .partitionBy("event_day")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def streaming_fuzzy_dedup(spark, docs_dir: str, index_dir: str,
                          out_dir: str, checkpoint_dir: str,
                          threshold: float = 0.7):
    """Incremental MinHash-LSH near-duplicate dedup over a growing
    corpus: each micro-batch is checked against EVERY doc ever kept,
    then appended to the index.

    Why not the streaming state store: fuzzy dedup needs corpus-
    lifetime state (the band index of every kept doc, forever), and
    Spark's dedup state is watermark-bounded by design. So the state
    here is a persisted parquet INDEX TABLE under ``index_dir`` —
    ``sigs/`` holds (doc_id, sig: array<long>[128]), ``bands/`` holds
    (doc_id, band, band_hash) — the same
    materialize-signatures-as-their-own-table pattern the batch
    operators document for 100 TB (`operators/dedup.py`). Per batch:

    1. signatures + band rows for the batch (one groupBy, as in batch);
    2. ONE candidate join: the batch's bands against a pool of the
       batch's own bands (a < b) and, when the index exists, the
       index's bands tagged ``old`` — an equi-join on (band,
       band_hash), partitioned by the band key, never O(corpus) per
       doc. A first epoch is simply a pool without the ``old`` half;
    3. ONE verify by signature-estimated Jaccard (fraction of equal
       minhash components; 128 hashes -> sigma ~= 0.04 at t=0.7). The
       index stores fixed-width 1 KB signatures, never shingle sets,
       so verification needs no second look at historical text. The
       verified pairs are tiny and persisted once (as are the batch's
       signatures); everything below derives from them;
    4. drop batch docs paired with an ``old`` doc;
    5. the remaining pairs, minus dropped ends, form the within-batch
       duplicate components (min-label propagation, the batch twin's
       exact semantics); min doc_id per component is kept;
    6. append survivors' sig + band rows to the index and their doc
       rows to ``out_dir``.

    Semantics are ONLINE-GREEDY: a doc is dropped iff it is near a doc
    that was itself KEPT (index docs are all keepers). On similarity
    chains A~B~C with A!~C arriving in different batches this keeps
    {A, C} where the all-at-once batch job keeps {A} — the documented
    divergence of every incremental dedup; on clique-shaped duplicate
    groups (the common case: perturbed copies of one original) the
    two agree exactly. Delivery: the streaming checkpoint makes each
    micro-batch process once on the happy path; a crash mid-epoch can
    replay an append (at-least-once), and because the three per-epoch
    appends (out, sigs, bands) are not one atomic commit, a crash
    BETWEEN them can leave the index missing one epoch's rows for one
    half (bounded recall loss for that epoch's docs, never a wrong
    drop — the existence guard below additionally keeps a half-created
    index from ever being read as whole). Production closes both gaps
    the same way: per-epoch staging dirs or a transactional (Iceberg)
    append, orthogonal to the dedup logic here. Returns the
    StreamingQuery."""
    import os

    from pyspark.sql import functions as F

    from paddleocr_spark.operators._cache import _ckpt, eager_persist, release
    from paddleocr_spark.operators.dedup import (
        N_HASHES,
        _band_hashes,
        _signatures,
    )
    from paddleocr_spark.operators.graph import connected_components

    stream = (spark.readStream
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(docs_dir))

    sig_dir = os.path.join(index_dir, "sigs")
    band_dir = os.path.join(index_dir, "bands")

    def _est_jaccard(sa, sb):
        # fraction of equal minhash components = E[Jaccard]
        eq = F.zip_with(sa, sb, lambda x, y: x.eqNullSafe(y).cast("int"))
        return (F.aggregate(eq, F.lit(0), lambda acc, v: acc + v)
                / F.lit(float(N_HASHES)))

    def process(batch_df, epoch_id: int):
        # read the micro-batch once: the signature job fills this lazy
        # checkpoint and the out_dir write below reads its blocks. (A
        # cache would do the same, but AQE fills it in a job of its own.)
        batch_df = _ckpt(batch_df.select("doc_id", "text"))
        sig = eager_persist(_signatures(F, batch_df).select(
            "doc_id",
            F.array(*[F.col(f"mh{i}") for i in range(N_HASHES)])
            .alias("sig")))
        bands = _band_hashes(
            F, sig.select("doc_id",
                          *[F.element_at("sig", i + 1).alias(f"mh{i}")
                            for i in range(N_HASHES)]))

        pool_bands = bands.withColumn("old", F.lit(False))
        pool_sigs = sig.withColumn("old", F.lit(False))
        # require BOTH halves: a crash between the two index appends
        # must degrade to "index treated as absent this epoch" (the
        # replay re-appends, covered by the at-least-once caveat),
        # never to an unreadable or silently-partial index
        if os.path.exists(sig_dir) and os.path.exists(band_dir):
            old = F.lit(True).alias("old")
            pool_bands = pool_bands.unionByName(
                spark.read.schema(bands.schema).parquet(band_dir)
                .select("*", old))
            pool_sigs = pool_sigs.unionByName(
                spark.read.schema(sig.schema).parquet(sig_dir)
                .select("*", old))

        p = pool_bands.alias("p")
        n = bands.alias("n")
        cand = (p.join(n, ["band", "band_hash"])
                .where(F.col("p.old") | (F.col("p.doc_id")
                                         < F.col("n.doc_id")))
                .select(F.col("p.doc_id").alias("doc_a"), "p.old",
                        F.col("n.doc_id").alias("doc_b"))
                .distinct())
        # (doc_a, old) keys the pool side: a replayed doc can sit in
        # the index and in the batch under one id
        pairs = eager_persist(
            cand.join(pool_sigs.select(F.col("doc_id").alias("doc_a"),
                                       "old", F.col("sig").alias("sa")),
                      ["doc_a", "old"])
            .join(sig.select(F.col("doc_id").alias("doc_b"),
                             F.col("sig").alias("sb")), "doc_b")
            .where(_est_jaccard(F.col("sa"), F.col("sb")) >= threshold)
            .select("doc_a", "doc_b", "old"))

        dropped = (pairs.where(F.col("old"))
                   .select(F.col("doc_b").alias("doc_id")).distinct())
        within = (pairs.where(~F.col("old"))
                  .join(dropped.withColumnRenamed("doc_id", "doc_a"),
                        "doc_a", "left_anti")
                  .join(dropped.withColumnRenamed("doc_id", "doc_b"),
                        "doc_b", "left_anti"))
        labels = connected_components(within)
        # the component label IS the minimum node id (graph.py
        # contract), so losers are simply node != label
        gone = dropped.unionByName(
            labels.where(F.col("node") != F.col("label"))
            .select(F.col("node").alias("doc_id")))

        for rows, path in ((batch_df, out_dir), (sig, sig_dir),
                           (bands, band_dir)):
            (rows.join(gone, "doc_id", "left_anti")
             .write.mode("append").parquet(path))
        # the epoch's results are written: release its query scope
        # (caches and connected_components localCheckpoint blocks).
        # foreachBatch hands the body a NEW wrapped SparkSession per
        # epoch (pyspark 4.1 ForeachBatchFunction) and the caches are
        # registered under THAT session, not the outer `spark`
        release(batch_df.sparkSession)

    return (stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
