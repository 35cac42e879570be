"""The flagship pipeline: interleaved docs → ordered span sequence.

Spark-first re-creation of the reference's end-to-end OCR flow
(``toddleocr/engine.py:326-391`` + ``toddleocr/config.py:419-439``),
inverted from per-image loops into set-at-a-time DataFrame stages:

    docs(doc_id, spans[])
      → explode(spans)
      → text branch:  boilerplate strip via JVM-side regexp (no Python)
      → media branch: decode ONCE PER DISTINCT media_ref (the media
        store is already distinct) via one mapInArrow stage, then
        equi-join the small string fragments back to the spans
      → union → per-doc (offset, frag_idx) window → order
      → (doc_id, order, kind, text, media_ref, conf)

Scale design notes (the parts that matter at 10^12 docs):

- Compute is keyed by media_ref, not by span: a media item referenced
  by many docs (or 400× inside one media-heavy doc) is decoded once and
  fanned out by a join — the expensive tensor columns never shuffle.
- The spans↔fragments join shuffles only small strings; AQE skew-join
  splits hot media_refs. For media-heavy docs the explode itself
  distributes spans evenly — there is no per-doc hotspot until the
  final per-doc window, which touches only output-sized rows.
- The final per-doc ordering is ADAPTIVELY SALTED (north rule: "salted
  repartitioning handles skew"): a single ``Window.partitionBy(doc_id)``
  funnels every row of a doc into ONE task, so a pathological
  10^4-10^5-span doc becomes a straggler (measured: max sort-task load
  278k rows vs median 10 on the skew corpus, BENCH). The salted
  scheme buckets rows by offset RANGE (``floor(offset / salt_width)``),
  ranks within (doc_id, bucket) — each bucket holds ≤ salt_width
  offsets, so the heavy doc's sort spreads over
  ceil(n_spans/salt_width) tasks (max task load 11.5k on the same
  corpus, 24× smaller) — and a tiny per-bucket running-sum (one row
  per bucket) supplies each bucket's base offset:
  order = base + rank - 1. Bit-identical to the single-window result
  because buckets are contiguous ranges of the sort key.
  The extra agg + join cost ~1.2 s of fixed overhead (measured at the
  skew-bench scale), a pure loss on corpora whose docs all fit one
  bucket — so the DEFAULT is ``salt_width="auto"``: a cheap
  max(size(spans)) statistic over the docs (at production scale this
  comes from table metadata) picks the plain window unless some doc
  exceeds SALT_WIDTH spans. Our own adaptive-planning decision, in the
  spirit of AQE's stats-driven re-plans.
- Text cleaning is pure Catalyst (regexp_replace), codegen'd JVM-side.
"""

from __future__ import annotations

from paddleocr_spark.corpus import BOILERPLATE_RE
from paddleocr_spark.functions.udfs import decode_media_store

__all__ = ["explode_spans", "clean_text_col", "extract_spans",
           "SALT_WIDTH", "auto_salt_width"]

# Default offset-bucket width for the salted per-doc ordering: docs
# with fewer spans see a single bucket (plain-window behavior); a
# 10^5-span doc spreads its sort over ~25 tasks. Rows per bucket are
# bounded by salt_width x fragments-per-span (~10), independent of how
# pathological the doc is.
SALT_WIDTH = 4096


def auto_salt_width(docs_df) -> int:
    """The "auto" salt choice: SALT_WIDTH when some doc has more than
    SALT_WIDTH spans, else 0 (plain per-doc window). One max-statistic
    job over the docs."""
    from pyspark.sql import functions as F

    max_spans = docs_df.agg(
        F.max(F.size("spans")).alias("m")).collect()[0]["m"] or 0
    return SALT_WIDTH if max_spans > SALT_WIDTH else 0


def clean_text_col(col):
    """JVM-side equivalent of extract_core.clean_text — MUST stay in
    sync with it and with the DuckDB oracle SQL."""
    from pyspark.sql import functions as F

    return F.trim(
        F.regexp_replace(F.regexp_replace(col, BOILERPLATE_RE, ""), r"\s+", " ")
    )


def explode_spans(docs_df):
    from pyspark.sql import functions as F

    return (docs_df
            .select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))


def extract_spans(docs_df, store_path: str,
                  salt_width: int | str = "auto",
                  keep_offset: bool = False,
                  fragments_df=None):
    """docs + media store → ordered span rows
    (doc_id, order, kind, text, media_ref, conf).

    ``store_path`` is the media store's parquet directory, read by path
    only: each decode task reads its files directly with pyarrow (see
    functions/udfs.py); no tensor column ever enters the JVM.

    ``salt_width``: "auto" (default) enables the salted two-phase
    ordering only when some doc exceeds SALT_WIDTH spans (one cheap
    max-statistic job decides — see module docstring); an int > 0
    forces that bucket width; 0 forces the plain per-doc window.
    All three produce identical output. ``keep_offset`` retains the
    source span offset column (skew-study instrumentation: rows per
    sort task are counted per (doc_id, floor(offset/salt_width)))."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if salt_width == "auto":
        salt_width = auto_salt_width(docs_df)
    # pre-decoded fragments: the checkpoint loop and the stream decode
    # the store ONCE and share it instead of paying the dominant decode
    # cost per bucket or per epoch
    fragments = (fragments_df if fragments_df is not None
                 else decode_media_store(docs_df.sparkSession, store_path))
    frags = fragments.select(
        F.col("media_ref").alias("join_key"),
        # second join key: fragments only ever match MEDIA spans — a
        # pathological media_ref that collides with the synthetic text
        # key ('t#<doc>#<offset>') must not fan a text row out
        F.lit(1).alias("jk_media"),
        "frag_idx",
        F.col("out_kind").alias("f_kind"),
        F.col("out_text").alias("f_text"),
        F.col("conf").alias("f_conf"))

    # SINGLE scan + explode feeding both branches (a text/media union of
    # two filters would scan + nested-decode the spans column twice —
    # measured at ~330 JVM core-s per pass at 100k docs). Text rows get
    # a synthetic unique join key so the left join has no hot ''-key.
    spans = (explode_spans(docs_df)
             .withColumn("clean",
                         F.when(F.col("kind") == "text",
                                clean_text_col(F.col("text"))))
             .withColumn("join_key",
                         F.when(F.col("kind") == "media",
                                F.col("media_ref"))
                         .otherwise(F.concat(F.lit("t#"), F.col("doc_id"),
                                             F.lit("#"), F.col("offset"))))
             .withColumn("jk_media",
                         F.when(F.col("kind") == "media", F.lit(1))
                         .otherwise(F.lit(0))))

    joined = spans.join(frags, ["join_key", "jk_media"], "left")
    unioned = (joined
               .where(((F.col("kind") == "text")
                       & (F.length("clean") > 0))
                      | ((F.col("kind") == "media")
                         # null for an unmatched ref and for a
                         # quarantined decode failure (surfaced via
                         # decode_errors instead)
                         & F.col("f_kind").isNotNull()))
               .select("doc_id", "offset",
                       F.coalesce("frag_idx", F.lit(0)).alias("frag_idx"),
                       F.when(F.col("kind") == "text", F.lit("text"))
                       .otherwise(F.col("f_kind")).alias("kind"),
                       F.when(F.col("kind") == "text", F.col("clean"))
                       .otherwise(F.col("f_text")).alias("text"),
                       F.when(F.col("kind") == "text", F.lit(""))
                       .otherwise(F.col("media_ref")).alias("media_ref"),
                       F.when(F.col("kind") == "text", F.lit(1.0))
                       .otherwise(F.col("f_conf")).alias("conf")))
    out_cols = ["doc_id", "order", "kind", "text", "media_ref", "conf"]
    if keep_offset:
        out_cols.append("offset")
    # total ordering key: (offset, frag_idx) is unique on the synthetic
    # corpus, but the SCHEMA allows duplicate offsets (a text span and
    # a media span at the same offset both carry frag_idx 0) — the
    # extra columns break such ties deterministically, so repeated
    # runs and the plain-vs-salted paths always agree; rows equal on
    # ALL keys are interchangeable, so the order stays well-defined
    order_keys = ["offset", "frag_idx", "kind", "media_ref", "text"]
    if not salt_width:
        w = Window.partitionBy("doc_id").orderBy(*order_keys)
        return (unioned
                .withColumn("order",
                            (F.row_number().over(w) - 1).cast("int"))
                .select(*out_cols))

    # salted two-phase ordering. Buckets are contiguous offset RANGES
    # (not hashes), so rank-within-bucket + per-bucket base reproduces
    # the global order_keys row_number exactly (the tiebreak columns
    # only refine WITHIN equal offsets, which share a bucket).
    ranked = (unioned
              .withColumn("bkt", F.floor(F.col("offset") / salt_width))
              .withColumn("r", F.row_number().over(
                  Window.partitionBy("doc_id", "bkt")
                  .orderBy(*order_keys))))
    # one row per (doc, bucket): the running sum is a tiny window (a
    # 10^5-span doc has ~25 bucket rows), never a hotspot. The groupBy
    # reuses the (doc_id, bkt) partitioning of the rank window.
    bases = (ranked.groupBy("doc_id", "bkt")
             .agg(F.count("*").alias("cnt"))
             .withColumn("base", F.sum("cnt").over(
                 Window.partitionBy("doc_id").orderBy("bkt")) - F.col("cnt"))
             .select("doc_id", "bkt", "base"))
    return (ranked.join(bases, ["doc_id", "bkt"])
            .withColumn("order",
                        (F.col("base") + F.col("r") - 1).cast("int"))
            .select(*out_cols))
