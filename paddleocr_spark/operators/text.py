"""Text-analysis operators over a (doc_id, text) corpus.

Training-data-pipeline staples (language-ID heuristic, quality scoring,
token counting, fingerprinting, boilerplate cleaning) expressed as pure
Catalyst expressions — JVM-side, whole-stage-codegen'd, no Python in
the hot path. Each has a matching ANSI-SQL oracle in
``__spark_entry__.oracle_sql`` computing the identical values in
DuckDB; keep the formulas in sync.

The boilerplate cleaner is the same regex pair used by the extraction
pipeline's text branch (reference analogue: the don't-care ignore-tag
mechanism, ``toddleocr/transforms/custom/label_ops.py:39-42``).
"""

from __future__ import annotations

from paddleocr_spark.corpus import BOILERPLATE_RE
from paddleocr_spark.sources.tables import load_table

__all__ = [
    "STOPWORDS", "PROFILE_QS", "tokens_col", "quality_parts",
    "clean_documents", "corpus_profile", "token_stats",
    "quality_scores", "fingerprints", "repetition_scores", "redact_pii",
    "EMAIL_RE", "PHONE_RE", "PII_PLANT_N", "PII_OFFSET",
]

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "on"]

# PII patterns kept to the regex subset with identical semantics in
# Java regex (Spark) and RE2 (DuckDB) — no backrefs, no lookaround
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{4}\b"
PII_PLANT_N = 20       # first N docs get a planted PII-bearing copy
PII_OFFSET = 4_000_000


def tokens_col(col):
    from pyspark.sql import functions as F

    return F.split(F.trim(F.lower(col)), r"\s+")


def clean_documents(spark, sf_dir: str):
    """Boilerplate strip + whitespace collapse (the extract pipeline's
    text branch, applied to the documents table)."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents")
    cleaned = F.trim(F.regexp_replace(
        F.regexp_replace(F.col("text"), BOILERPLATE_RE, ""), r"\s+", " "))
    return (df.select("doc_id", cleaned.alias("clean_text"))
            .withColumn("clean_len", F.length("clean_text").cast("long")))


def token_stats(spark, sf_dir: str):
    """Whitespace token count + distinct tokens + mean token length."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return df.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("double"),
                        lambda acc, w: acc + F.length(w))
            / F.size(toks), 6).alias("avg_token_len"),
    )


def quality_parts(F, text_col, toks):
    """THE composite quality formula — (n_tok, stop_ratio, alpha_ratio,
    score). One copy shared by quality_scores and
    curation.curated_corpus (and mirrored in both DuckDB oracles):
    weights or stopword changes land everywhere or nowhere."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    n_tok = F.size(toks)
    alpha_ratio = (F.length(F.regexp_replace(F.lower(text_col), "[^a-z]", ""))
                   / F.length(text_col))
    stop_ratio = n_stop.cast("double") / n_tok
    score = (0.4 * stop_ratio
             + 0.3 * F.least(n_tok / F.lit(100.0), F.lit(1.0))
             + 0.3 * alpha_ratio)
    return n_tok, stop_ratio, alpha_ratio, score


def quality_scores(spark, sf_dir: str):
    """Composite quality score: stopword ratio + length saturation +
    alphabetic-character ratio, plus a stopword-based language guess
    (n-gram/stopword heuristic language-ID)."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tok, stop_ratio, alpha_ratio, score = quality_parts(
        F, F.col("text"), toks)
    return df.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(score, 6).alias("quality"),
        F.when(stop_ratio >= 0.08, F.lit("en")).otherwise(F.lit("unk"))
        .alias("lang_guess"),
    )


ROLL_BASE = 31
ROLL_MOD = 2147483647  # 2^31-1: acc*31 + 255 stays < 2^36, overflow-free
                       # under BOTH Spark (wrapping) and DuckDB (erroring)


def fingerprints(spark, sf_dir: str):
    """Document fingerprints: md5 of the normalized text, the min
    word-hash (1-perm minhash), and a Karp–Rabin polynomial rolling
    hash over the characters — the exact-dedup / near-dedup / shingle
    keys. The rolling hash is a JVM-side left fold (F.aggregate), no
    Python."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents")
    from paddleocr_spark.operators.dedup import norm_content

    norm = norm_content(F, F.col("text"))
    toks = F.split(norm, " ")
    from paddleocr_spark.operators.dedup import salted_hash60

    word_hash = lambda w: salted_hash60(F, w, 0)
    rolling = F.aggregate(
        F.split(norm, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * ROLL_BASE + F.ascii(ch)) % ROLL_MOD)
    return df.select(
        "doc_id",
        F.md5(norm).alias("content_md5"),
        F.array_min(F.transform(toks, word_hash)).alias("min_word_hash"),
        rolling.alias("rolling_hash"),
    )


def repetition_scores(spark, sf_dir: str):
    """Gopher-style repetition signals per document: the fraction of
    all bigrams taken by the single most frequent bigram, the fraction
    of bigram mass in bigrams occurring more than once, and the
    fraction of tokens taken by the most frequent word. High values
    flag boilerplate/spam for a pretraining filter.

    Plan shape: two explodes feeding two map-side-combinable groupBy
    chains (bigram side, word side) joined on doc_id — at 10^12 docs
    each chain shuffles one partial row per (partition, doc, key) and
    the join keys are the doc ids, never the text."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators.dedup import norm_content

    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = df.select(
        "doc_id",
        F.split(norm_content(F, F.col("text")), " ").alias("tk"))
    bigrams = toks.select("doc_id", F.explode(F.filter(
        F.transform(F.col("tk"),
                    lambda x, i: F.when(i + 1 < F.size(F.col("tk")),
                                        F.concat_ws(" ", x,
                                                    F.element_at(
                                                        F.col("tk"), i + 2)))),
        lambda s: s.isNotNull())).alias("bg"))
    bg_counts = bigrams.groupBy("doc_id", "bg").count()
    bg_doc = bg_counts.groupBy("doc_id").agg(
        F.round(F.max("count") / F.sum("count"), 6)
        .alias("top_bigram_frac"),
        F.round(F.sum(F.when(F.col("count") > 1, F.col("count"))
                      .otherwise(F.lit(0))) / F.sum("count"), 6)
        .alias("dup_bigram_frac"))
    words = toks.select("doc_id", F.explode("tk").alias("w"))
    w_doc = (words.groupBy("doc_id", "w").count()
             .groupBy("doc_id")
             .agg(F.round(F.max("count") / F.sum("count"), 6)
                  .alias("top_word_frac")))
    return bg_doc.join(w_doc, "doc_id")


def _pii_docs(spark, sf_dir: str):
    """documents ∪ planted PII-bearing copies (the synthetic corpus has
    no natural emails/phones, so redact_pii plants deterministic ones —
    mirrored verbatim in the DuckDB oracle)."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pii = (df.where(F.col("doc_id") < PII_PLANT_N)
           .select((F.col("doc_id") + PII_OFFSET).alias("doc_id"),
                   F.concat(F.col("text"),
                            F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com or 555-"),
                            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
                            F.lit(" today")).alias("text")))
    return df.unionByName(pii)


def redact_pii(spark, sf_dir: str):
    """PII scrub: count and redact email addresses and phone numbers
    (pure JVM regexp — one scan, no shuffle). Returns per-doc match
    counts plus the md5 of the redacted text (compact value check; the
    redacted text itself stays executor-side)."""
    from pyspark.sql import functions as F

    df = _pii_docs(spark, sf_dir)
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "[EMAIL]"),
        PHONE_RE, "[PHONE]")
    return df.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).cast("long")
        .alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PHONE_RE)).cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"))


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
# marks — the GPT-2-style split reduced to the regex subset with
# identical Java/RE2 semantics. The corpus is punctuation-free, so a
# planted suffix of contractions/numbers/punctuation keeps the
# subword-vs-whitespace divergence observable.
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
BPE_PLANT_N = 30
BPE_OFFSET = 5_000_000
BPE_SUFFIX = " it's a well-known fact: 3.14 > 2, (obviously)!"


def bpe_token_stats(spark, sf_dir: str):
    """Whitespace vs BPE-ish-regex token counts per document, plus
    fertility (regex tokens per whitespace token — the cost estimate a
    tokenizer-budget planner needs). Pure JVM regexp, one scan, no
    shuffle."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (df.where(F.col("doc_id") < BPE_PLANT_N)
               .select((F.col("doc_id") + BPE_OFFSET).alias("doc_id"),
                       F.concat(F.col("text"),
                                F.lit(BPE_SUFFIX)).alias("text")))
    df = df.unionByName(planted)
    low = F.lower(F.col("text"))
    n_ws = F.size(F.split(F.trim(low), r"\s+")).cast("long")
    n_bpe = F.size(F.regexp_extract_all(low, F.lit(BPE_RE), F.lit(0))) \
        .cast("long")
    return df.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(n_bpe.cast("double") / n_ws, 6).alias("fertility"))


PROFILE_QS = (0.25, 0.5, 0.75, 0.95)


def corpus_profile(spark, sf_dir: str):
    """Per-language corpus profile: doc/char totals, EXACT interpolated
    length quantiles, and distinct-source counts — the profiling pass a
    training-data pipeline runs before curation decisions.

    Quantiles here are Spark's exact ``percentile`` aggregate (linear
    interpolation — the same definition as DuckDB ``quantile_cont``,
    so the oracle matches value-for-value). At 10^12 rows the exact
    sort-based aggregate gives way to the mergeable-sketch form
    (``approx_percentile``/KLL, ``approx_count_distinct``/HLL) — the
    swap is one function name per column, and the sketch path's error
    envelope vs this exact result is pinned in
    tests/test_corpus_profile.py rather than the oracle (sketch
    internals are engine-specific by design)."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents")
    qs = ", ".join(f"{q}D" for q in PROFILE_QS)
    pct = F.expr(f"percentile(n_chars, array({qs}))")
    return (df.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.round(pct[0], 6).alias("chars_p25"),
                 F.round(pct[1], 6).alias("chars_p50"),
                 F.round(pct[2], 6).alias("chars_p75"),
                 F.round(pct[3], 6).alias("chars_p95"),
                 F.countDistinct("source").cast("long")
                 .alias("n_sources"))
            .orderBy("lang"))
