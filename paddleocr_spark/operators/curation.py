"""Corpus-curation operators: the selection half of a training-data
pipeline (the cleaning/dedup half lives in text.py / dedup.py).

Three ops, all deterministic (hash-driven, no RNG) so every one has a
bit-exact DuckDB oracle:

- benchmark decontamination: flag training docs sharing any verbatim
  8-gram with a held-out benchmark set — explode distinct n-grams on
  both sides, ONE equi-join on the gram hash, one count agg. At
  10^12 docs the benchmark gram set is tiny (benchmarks are small by
  definition) and broadcasts; the training-side explode is linear and
  never shuffles the corpus, only the (doc_id, gram-hash) pairs.
- stratified sampling: per-language keep rates applied via a
  deterministic md5 threshold on doc_id — reproducible across runs,
  cluster sizes, and engines (unlike Spark's RNG-based sampleBy),
  pure Catalyst, fully pushdown-friendly.
- token-budget mixture: per-language token budgets enforced by a
  cumulative-sum window over a deterministic hash order — the
  data-mixing step that caps each language/domain's contribution.
  One shuffle (the window's partitionBy), map-side token counting.

No reference analogue: the reference engine extracts documents but has
no corpus-curation layer; these extend SURVEY §6's pipeline surface.
"""

from __future__ import annotations

from paddleocr_spark.sources.tables import (
    derived_table,
    load_table,
    table_path,
)

__all__ = [
    "NGRAM_N", "BENCH_MOD", "SAMPLE_RATES", "SAMPLE_DENOM", "LANG_BUDGET",
    "QUALITY_MIN", "GRAM_SCHEMA",
    "benchmark_contamination", "build_gram_table", "stratified_sample",
    "token_budget_mix", "curated_corpus",
]

NGRAM_N = 8           # verbatim 8-gram overlap = standard decontam unit
BENCH_MOD = 97        # doc_id % 97 == 0 -> held-out "benchmark" doc
BENCH_CAP = 10_000    # ...but only below this id: the benchmark suite
                      # is a FIXED-SIZE set (<= CAP/MOD docs) however
                      # large the corpus grows, so the broadcast stays
                      # bounded by the suite, not the corpus
CONTAM_PLANT_N = 3    # first N benchmark docs get a planted leak
CONTAM_PREFIX = "unrelated preamble text then "
SAMPLE_DENOM = 1_000_000
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "zh": 0.1}
DEFAULT_RATE = 0.05   # languages outside the table
LANG_BUDGET = 2_000   # tokens kept per language by the mixture


def _docs(spark, sf_dir: str):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")


def _ngrams(F, toks_col, n: int):
    """Distinct word n-grams — dedup's shingle builder with n
    parameterized (one copy of the transform and of its bound-column
    evaluation caveat)."""
    from paddleocr_spark.operators.dedup import _shingles

    return _shingles(F, toks_col, n)


# what build_gram_table writes
GRAM_SCHEMA = "doc_id long, gh long"


def build_gram_table(spark, sf_dir: str, n: int = NGRAM_N) -> str:
    """Build (or load) the persisted document n-gram table — distinct
    (doc_id, gh) rows where gh = xxhash64 of the gram (a fixed-width
    8-byte join key: cheaper to compute AND to shuffle than an md5
    hex string). Same build-once shape as the near-dup edge table:
    the normalize+explode+hash pass over the corpus runs ONCE and
    decontamination (plus any other gram consumer) reads parquet. At
    production scale the gram table is a standard corpus-prep
    artifact shared by dedup and decontamination. Returns the table
    directory.

    The corpus is augmented with CONTAM_PLANT_N training docs that
    embed a benchmark doc's text behind an unrelated prefix (the test
    corpora have no natural verbatim 8-gram leakage at larger scale
    factors) — mirrored verbatim in the DuckDB oracle. The plants
    live at NEGATIVE doc_ids (-(src+1)), which no real document can
    hold, so a plant can never merge gram sets with a real doc
    whatever the corpus size."""
    from pyspark.sql import functions as F

    def build(out):
        docs = _docs(spark, sf_dir)
        leaks = (docs.where((F.col("doc_id") % BENCH_MOD == 0)
                            & (F.col("doc_id") < CONTAM_PLANT_N * BENCH_MOD))
                 .select((-F.col("doc_id") - 1).alias("doc_id"),
                         F.concat(F.lit(CONTAM_PREFIX),
                                  F.col("text")).alias("text"),
                         "lang"))
        docs = docs.unionByName(leaks)
        toks = docs.select("doc_id",
                           dedup_norm(F, F.col("text")).alias("tk"))
        grams = toks.select(
            "doc_id", F.explode(_ngrams(F, F.col("tk"), n)).alias("g"))
        (grams.select("doc_id", F.xxhash64(F.col("g")).alias("gh"))
         .write.parquet(out))

    return derived_table(
        "contam_grams", "v1", [table_path(sf_dir, "documents")],
        (n, CONTAM_PLANT_N, CONTAM_PREFIX, BENCH_MOD, "xxh64"), build)


def benchmark_contamination(spark, sf_dir: str, n: int = NGRAM_N):
    """Training docs contaminated by the held-out benchmark split
    (doc_id % BENCH_MOD == 0): any shared verbatim n-gram flags the
    doc. Returns (doc_id, n_shared_ngrams, n_benchmark_docs).

    Serves from the persisted gram table (``build_gram_table``) —
    the query itself is one broadcast join + one aggregate. The
    benchmark side is broadcast: bounded by BENCH_CAP / BENCH_MOD
    docs HOWEVER large the corpus grows (a real deployment swaps the
    modulus slice for the actual held-out benchmark table; the bound
    is the property that matters)."""
    from pyspark.sql import functions as F

    grams = (spark.read.schema(GRAM_SCHEMA)
             .parquet(build_gram_table(spark, sf_dir, n)))
    is_bench = (F.col("doc_id") % BENCH_MOD == 0) & \
        (F.col("doc_id") >= 0) & (F.col("doc_id") < BENCH_CAP)
    bench = (grams.where(is_bench)
             .select(F.col("doc_id").alias("bench_doc_id"), "gh"))
    train = grams.where(~is_bench)
    return (train.join(F.broadcast(bench), "gh")
            .groupBy("doc_id")
            .agg(F.count_distinct("gh").cast("long")
                 .alias("n_shared_ngrams"),
                 F.count_distinct("bench_doc_id").cast("long")
                 .alias("n_benchmark_docs")))


def _keep_hash(F, doc_id_col, salt: str):
    """Deterministic uniform-ish value in [0, SAMPLE_DENOM): md5 of the
    salted doc_id, top 60 bits, mod the denominator. Engine-portable
    (mirrored in the DuckDB oracle) and stable across runs/partitions —
    the property RNG sampling cannot give a resumable 10^12-doc job."""
    from paddleocr_spark.operators.dedup import salted_hash60

    return salted_hash60(F, doc_id_col.cast("string"),
                         salt) % SAMPLE_DENOM


def _lang_threshold(F):
    """Per-language integer keep threshold (one CASE on lang).
    Integer thresholds precomputed once (shared with the oracle) so no
    float-rounding divergence can exist between engines; one copy
    shared by stratified_sample and curated_corpus."""
    thr = F.lit(int(DEFAULT_RATE * SAMPLE_DENOM))
    for lang, r in SAMPLE_RATES.items():
        thr = F.when(F.col("lang") == lang,
                     F.lit(int(r * SAMPLE_DENOM))).otherwise(thr)
    return thr


def _budget_cap(F, Window, df, budget: int):
    """Per-language token-budget window: running token total in
    deterministic ('pri', doc_id) order; keep a doc iff it STARTS
    inside the budget. One copy shared by token_budget_mix and
    curated_corpus. ``df`` must carry (lang, doc_id, pri, n_tokens)."""
    w = (Window.partitionBy("lang").orderBy("pri", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    mixed = df.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w).cast("long"))
    return mixed.where(F.col("cum_tokens") - F.col("n_tokens")
                       < F.lit(budget))


def stratified_sample(spark, sf_dir: str):
    """Per-language deterministic sampling at SAMPLE_RATES: keep a doc
    iff hash(doc_id) mod 1e6 < rate * 1e6. Pure Catalyst (one CASE on
    lang + one hash filter), no shuffle at all — the filter rides the
    scan."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    keep = _keep_hash(F, F.col("doc_id"), "strat") < _lang_threshold(F)
    return docs.where(keep).select("doc_id", "lang")


def token_budget_mix(spark, sf_dir: str, budget: int = LANG_BUDGET):
    """Cap each language's contribution at `budget` tokens: docs are
    taken in deterministic hash order (an engine-portable shuffle)
    until the language's running token total passes the budget; a doc
    is kept iff it STARTS inside the budget, so every language gets at
    least one doc and the cap overshoots by at most one document.
    Returns (doc_id, lang, n_tokens, cum_tokens)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    toked = docs.select(
        "doc_id", "lang",
        F.size(dedup_norm(F, F.col("text"))).cast("long").alias("n_tokens"),
        _keep_hash(F, F.col("doc_id"), "mix").alias("pri"))
    return (_budget_cap(F, Window, toked, budget)
            .select("doc_id", "lang", "n_tokens", "cum_tokens"))


def dedup_norm(F, col):
    """Shared whitespace-normalized tokenization (dedup._norm_tokens)."""
    from paddleocr_spark.operators.dedup import _norm_tokens

    return _norm_tokens(F, col)


QUALITY_MIN = 0.45  # keeps ~70% of the synthetic corpus (measured
                    # quartiles 0.44/0.50 at sf0.01) — both branches
                    # of the filter are exercised


def curated_corpus(spark, sf_dir: str, budget: int = LANG_BUDGET):
    """The end-to-end training-data curation pipeline as ONE
    declarative job: DOM main-content extraction → quality filter →
    deterministic per-language stratified sampling → per-language
    token budget. Every stage is an operator this module (or
    html_extract/text) already ships alone; this query is the
    composition a real corpus build runs, and its DuckDB oracle
    composes the same four stages as CTEs.

    Scale shape: the only Python is the Arrow-batched DOM parse; the
    quality ratios are pure Catalyst over its output; the stratified
    keep is a scan-riding filter; the budget cap is one per-language
    window. The doc_id equi-join back to the documents table for the
    lang column is co-partitioned by bucketing both sides on doc_id
    at production scale (operators/bucketing.py). The quality filter
    compares ROUNDED (6 dp) scores so the cross-engine comparison can
    never straddle a ulp."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from paddleocr_spark.operators.html_extract import html_main_content
    from paddleocr_spark.operators.text import quality_parts

    mc = html_main_content(spark, sf_dir).select("doc_id", "main_text")
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    df = mc.join(langs, "doc_id")

    # same formula as text.quality_scores, applied to the EXTRACTED
    # main text (already whitespace-normalized by the DOM extractor,
    # so a plain split replaces tokens_col's trim/lower)
    toks = F.split(F.col("main_text"), r"\s+")
    n_tok, _, _, score = quality_parts(F, F.col("main_text"), toks)
    quality = F.round(score, 6)

    scored = df.select(
        "doc_id", "lang",
        n_tok.cast("long").alias("n_tokens"),
        quality.alias("quality"),
        F.md5("main_text").alias("main_md5"))
    kept = scored.where(F.col("quality") >= QUALITY_MIN)

    sampled = (kept
               .withColumn("pri", _keep_hash(F, F.col("doc_id"), "cur"))
               .where(F.col("pri") < _lang_threshold(F)))

    return (_budget_cap(F, Window, sampled, budget)
            .select("doc_id", "lang", "n_tokens", "quality",
                    "main_md5", "cum_tokens"))
