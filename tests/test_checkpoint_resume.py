"""Checkpoint/resume at partition granularity (north rule): a run
killed mid-way must resume, skip completed buckets, and produce output
identical to a clean run."""

import shutil

import pytest

from paddleocr_spark.corpus import synthesize_docs
from paddleocr_spark.operators.checkpoint import (
    completed_buckets,
    read_output,
    run_with_checkpoint,
)


@pytest.fixture(scope="module")
def corpus(spark, media_store):
    docs = synthesize_docs(spark, 20, seed=11, heavy_frac=0.0)
    return docs, media_store(docs, 11)


def _rows(df):
    return sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref)
                  for r in df.select("doc_id", "order", "kind", "text",
                                     "media_ref").collect())


def test_resume_equals_clean_run(spark, corpus, tmp_path):
    docs, media = corpus
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crash")

    run_with_checkpoint(spark, docs, media, clean_dir, "run1", n_buckets=4)
    assert completed_buckets(spark, clean_dir, "run1") == {0, 1, 2, 3}

    # crash after 2 of 4 buckets
    done = run_with_checkpoint(spark, docs, media, crash_dir, "run1",
                               n_buckets=4, fail_after_buckets=2)
    assert len(done) == 2
    assert completed_buckets(spark, crash_dir, "run1") == set(done)

    # resume: only the remaining buckets are processed
    resumed = run_with_checkpoint(spark, docs, media, crash_dir, "run1",
                                  n_buckets=4)
    assert sorted(done + resumed) == [0, 1, 2, 3]

    assert _rows(read_output(spark, crash_dir)) == \
        _rows(read_output(spark, clean_dir))

    shutil.rmtree(clean_dir, ignore_errors=True)


def test_fully_resumed_run_is_a_noop(spark, corpus, tmp_path):
    """Re-invoking a completed run must return [] WITHOUT re-decoding
    the media store (eager_persist would register a cache; the registry
    must stay empty on the no-op path)."""
    docs, media = corpus
    out = str(tmp_path / "done")
    run_with_checkpoint(spark, docs, media, out, "run1", n_buckets=2)

    from paddleocr_spark.operators import _cache
    before = {k: len(v) for k, v in _cache._REGISTRY.items()}
    again = run_with_checkpoint(spark, docs, media, out, "run1", n_buckets=2)
    assert again == []
    assert {k: len(v) for k, v in _cache._REGISTRY.items()} == before


def test_checkpoint_metrics_rows(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "m")
    run_with_checkpoint(spark, docs, media, out, "run2", n_buckets=2,
                        input_snapshot="snap-abc")
    import os
    ck = spark.read.parquet(os.path.join(out, "checkpoint"))
    rows = ck.collect()
    assert {r.bucket for r in rows} == {0, 1}
    assert all(r.run_id == "run2" and r.input_snapshot == "snap-abc"
               and r.wall_ms >= 0 and r.doc_count >= 0 for r in rows)
    # doc_count counts docs with >=1 output row (a doc whose only span
    # is an empty media item produces none)
    from paddleocr_spark.operators.extract import extract_spans
    expected = extract_spans(docs, media).select("doc_id").distinct().count()
    total_docs = sum(r.doc_count for r in rows)
    assert total_docs == expected
    total_spans = sum(r.span_count for r in rows)
    assert total_spans == extract_spans(docs, media).count()


def test_resume_with_different_bucket_count_refused(spark, tmp_path,
                                                   media_store):
    """Re-running the same run_id with a changed --buckets must raise:
    completed bucket ids under a different partitioning would be
    skipped wrongly and documents silently dropped."""
    docs = synthesize_docs(spark, 8, seed=5, heavy_frac=0.0)
    media = media_store(docs, 5)
    out = str(tmp_path / "out")
    run_with_checkpoint(spark, docs, media, out, "runX", n_buckets=4,
                        fail_after_buckets=2)
    with pytest.raises(ValueError, match="n_buckets"):
        run_with_checkpoint(spark, docs, media, out, "runX",
                            n_buckets=8)
