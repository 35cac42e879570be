"""Semantics of the corpus-curation operators (the oracle parity test
proves Spark == DuckDB; these prove the agreed-on output has the
intended selection structure)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from paddleocr_spark.operators import curation

SF_DIR = "/root/testdata/sf0.001"


def test_contamination_flags_only_training_docs(spark):
    rows = curation.benchmark_contamination(spark, SF_DIR).collect()
    assert rows, "no contaminated docs found — check is vacuous"
    for r in rows:
        assert r.doc_id % curation.BENCH_MOD != 0
        assert r.n_shared_ngrams >= 1 and r.n_benchmark_docs >= 1


def test_stratified_sample_rates_and_no_shuffle(spark):
    from tests.plan_inspect import formatted_plan

    df = curation.stratified_sample(spark, SF_DIR)
    # deterministic hash filter rides the scan: zero Exchange
    assert "Exchange" not in formatted_plan(df)
    rows = df.collect()
    total = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
             .groupBy("lang").count().collect())
    n_by_lang = {r.lang: r["count"] for r in total}
    kept = {}
    for r in rows:
        kept[r.lang] = kept.get(r.lang, 0) + 1
    for lang, n_kept in kept.items():
        rate = curation.SAMPLE_RATES.get(lang, curation.DEFAULT_RATE)
        # md5 is uniform: observed rate within a generous band
        assert n_kept <= n_by_lang[lang]
        assert abs(n_kept / n_by_lang[lang] - rate) < 0.25


def test_token_budget_mix_caps_each_language(spark):
    rows = curation.token_budget_mix(spark, SF_DIR).collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, docs in by_lang.items():
        docs.sort(key=lambda r: r.cum_tokens)
        # every kept doc STARTS inside the budget; at most one doc of
        # overshoot past it
        for d in docs:
            assert d.cum_tokens - d.n_tokens < curation.LANG_BUDGET
        over = [d for d in docs if d.cum_tokens >= curation.LANG_BUDGET]
        assert len(over) <= 1
        # cumulative sums are consistent
        run = 0
        for d in docs:
            run += d.n_tokens
            assert d.cum_tokens == run


def test_redact_pii_finds_only_planted_pii(spark):
    from paddleocr_spark.operators import text as t

    rows = t.redact_pii(spark, SF_DIR).collect()
    planted = {r.doc_id: r for r in rows if r.doc_id >= t.PII_OFFSET}
    assert len(planted) == t.PII_PLANT_N
    for r in planted.values():
        assert r.n_emails == 1 and r.n_phones == 1
    for r in rows:
        if r.doc_id < t.PII_OFFSET:
            assert r.n_emails == 0 and r.n_phones == 0


def test_repetition_scores_bounds_and_known_repeats(spark):
    from paddleocr_spark.operators import text as t

    rows = t.repetition_scores(spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 < r.top_bigram_frac <= 1
        assert 0 <= r.dup_bigram_frac <= 1
        assert 0 < r.top_word_frac <= 1
        # the single most frequent bigram is part of the duplicated
        # mass whenever any duplication exists
        if r.dup_bigram_frac > 0:
            assert r.top_bigram_frac <= r.dup_bigram_frac
