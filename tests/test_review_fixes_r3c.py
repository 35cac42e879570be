"""Regression tests for the thirteenth review batch: depth-aware plan
parsers, checkpoint lineage validation + atomic bucket moves + targeted
cache release, partitioned-layout fingerprint invalidation, and the
session-identity guards in the cache registry."""

import os

import pytest

from paddleocr_spark.corpus import synthesize_docs
from paddleocr_spark.operators import _cache
from paddleocr_spark.operators.checkpoint import (
    read_output,
    run_with_checkpoint,
)

SF = "/root/testdata/sf0.001"


# --- plans/inspect: depth-aware parsers -------------------------------

def test_read_schema_nested_struct(spark, tmp_path):
    """A ReadSchema with array<struct<...>> must yield the TOP-LEVEL
    columns only — no phantom nested names, no dropped trailers."""
    from pyspark.sql import functions as F

    from tests.plan_inspect import scan_read_schema

    path = str(tmp_path / "nested")
    (spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.array(F.struct(F.lit("t").alias("kind"),
                         F.lit(1).alias("offset"))).alias("spans"),
        F.lit("x").alias("zname"))
     .write.mode("overwrite").parquet(path))
    nested = spark.read.parquet(path).select("doc_id", "spans", "zname")
    schemas = scan_read_schema(nested)
    assert schemas, "no scan found"
    top = set(schemas[0])
    assert top == {"doc_id", "spans", "zname"}, schemas


def test_split_top_level_helper():
    from tests.plan_inspect import _split_top_level

    body = "a:bigint,spans:array<struct<k:string,v:int>>,z:string"
    assert [p.split(":")[0] for p in _split_top_level(body)] \
        == ["a", "spans", "z"]
    assert _split_top_level("In(name, [a,b,c]), IsNotNull(name)") \
        == ["In(name, [a,b,c])", "IsNotNull(name)"]


def test_pushed_filters_in_list(spark):
    """An In(...) pushed filter is ONE filter, and filters after it
    are not dropped at its inner ']'."""
    from pyspark.sql import functions as F

    from tests.plan_inspect import pushed_filters

    df = (spark.read.parquet(f"{SF}/documents.parquet")
          .where(F.col("lang").isin("en", "de", "fr")
                 & F.col("source").isNotNull())
          .select("doc_id"))
    filters = pushed_filters(df)
    ins = [f for f in filters if f.startswith("In(")]
    assert ins, filters
    assert all("[" in f and f.endswith(")") for f in ins), filters
    # nothing shredded into bare fragments
    assert not any(f in ("[en", "de", "fr]") for f in filters), filters
    # the filter after the In(...) survives
    assert any("IsNotNull" in f for f in filters), filters


# --- checkpoint: lineage validation, atomic move, targeted release ----

@pytest.fixture(scope="module")
def corpus(spark, media_store):
    docs = synthesize_docs(spark, 16, seed=23, heavy_frac=0.0)
    return docs, media_store(docs, 23)


def test_resume_rejects_changed_input_snapshot(spark, corpus, tmp_path):
    docs, media = corpus
    out = str(tmp_path / "snap")
    run_with_checkpoint(spark, docs, media, out, "r1", n_buckets=2,
                        fail_after_buckets=1, input_snapshot="A")
    with pytest.raises(ValueError, match="input_snapshot"):
        run_with_checkpoint(spark, docs, media, out, "r1", n_buckets=2,
                            input_snapshot="B")
    # same snapshot resumes fine
    run_with_checkpoint(spark, docs, media, out, "r1", n_buckets=2,
                        input_snapshot="A")


def test_resume_rejects_changed_code_version(spark, corpus, tmp_path):
    import paddleocr_spark.operators.checkpoint as ckpt_mod

    docs, media = corpus
    out = str(tmp_path / "ver")
    run_with_checkpoint(spark, docs, media, out, "r1", n_buckets=2,
                        fail_after_buckets=1)
    real = ckpt_mod.__version__
    ckpt_mod.__version__ = real + "-mutated"
    try:
        with pytest.raises(ValueError, match="code_version"):
            run_with_checkpoint(spark, docs, media, out, "r1", n_buckets=2)
    finally:
        ckpt_mod.__version__ = real


def test_bucket_write_leaves_no_tmp_dirs(spark, corpus, tmp_path):
    """The tmp/trash staging dirs of the atomic move are cleaned up,
    and the spans dir holds exactly the bucket=<b> directories."""
    docs, media = corpus
    out = str(tmp_path / "atomic")
    run_with_checkpoint(spark, docs, media, out, "r1", n_buckets=2)
    entries = sorted(os.listdir(os.path.join(out, "spans")))
    assert entries == ["bucket=0", "bucket=1"], entries
    assert read_output(spark, out).count() > 0


def test_read_output_schema_is_the_written_one(spark, corpus, tmp_path):
    """read_output takes the spans schema from a written footer on the
    driver: building it runs no Spark job, and the schema, ``bucket``
    included, is what inference over the directory gives."""
    docs, media = corpus
    out = str(tmp_path / "schema")
    run_with_checkpoint(spark, docs, media, out, "r1", n_buckets=2)
    sc = spark.sparkContext
    group = "test_read_output_schema"
    sc.setJobGroup(group, group)
    try:
        got = read_output(spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert got.schema == spark.read.parquet(
        os.path.join(out, "spans")).schema


def test_checkpoint_releases_only_its_own_cache(spark, corpus, tmp_path):
    """run_with_checkpoint must not unpersist sibling caches the
    caller is still using."""
    docs, media = corpus
    other = _cache.eager_persist(docs.select("doc_id"))
    try:
        assert other.storageLevel.useMemory
        run_with_checkpoint(spark, docs, media, str(tmp_path / "tr"),
                            "r1", n_buckets=2)
        assert other.storageLevel.useMemory, \
            "sibling cache was unpersisted by run_with_checkpoint"
    finally:
        _cache.release_one(other)


# --- partitioning: fingerprint invalidation ---------------------------

def test_partitioned_layout_rebuilds_on_source_change(spark, tmp_path,
                                                     monkeypatch):
    from pyspark.sql import functions as F

    from paddleocr_spark import cachedir
    from paddleocr_spark.operators import partitioning as P

    monkeypatch.setattr(cachedir, "_ROOT", str(tmp_path / "cache"))

    src_dir = str(tmp_path / "sf_fake")
    os.makedirs(src_dir)
    base = spark.range(10).select(
        F.col("id").alias("event_id"),
        F.to_timestamp(F.lit("2024-01-05 00:00:00")).alias("ts"),
        F.lit("a").alias("event_type"), F.lit(1.0).alias("value"))
    base.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src_dir, "events.parquet"))

    p1 = P.ensure_partitioned_events(spark, src_dir)
    n1 = spark.read.parquet(p1).count()
    assert n1 == 10

    # regenerate the source with different contents (same path!)
    spark.range(25).select(
        F.col("id").alias("event_id"),
        F.to_timestamp(F.lit("2024-01-05 00:00:00")).alias("ts"),
        F.lit("a").alias("event_type"), F.lit(1.0).alias("value")) \
        .coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, "events.parquet"))

    p2 = P.ensure_partitioned_events(spark, src_dir)
    assert spark.read.parquet(p2).count() == 25, \
        "stale layout served after source regeneration"


# --- _cache: registration-before-count, identity guards ---------------

def test_eager_persist_leaves_a_cached_frame_alone(spark):
    """A pinned (already cached) DataFrame is returned as is: no second
    persist, no count job, no registry entry."""
    def registry():
        return {id(s): {k: id(df) for k, (_, df) in e.items()}
                for s, e in _cache._REGISTRY.items()}

    key = "test_eager_on_pinned"
    pinned = _cache.pinned_persist(spark, key,
                                   lambda: spark.range(8).toDF("x"))
    before = registry()
    sc = spark.sparkContext
    sc.setJobGroup(key, key)
    try:
        same = _cache.eager_persist(pinned)
        after = registry()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        _cache._REGISTRY[spark].pop(key)
        pinned.unpersist()
    assert same is pinned
    assert after == before
    assert sc.statusTracker().getJobIdsForGroup(key) == []


def test_eager_persist_registers_before_count(spark):
    """A failing materialization must leave the df tracked (and hence
    releasable), not orphaned in the block manager."""
    from pyspark.sql import functions as F

    bad = spark.range(4).select(
        F.assert_true(F.col("id") < 2, F.lit("boom")).alias("x"))
    before = sum(len(v) for v in _cache._REGISTRY.values())
    with pytest.raises(Exception):
        _cache.eager_persist(bad)
    after = sum(len(v) for v in _cache._REGISTRY.values())
    assert after == before + 1, "failed persist was not tracked"
    assert _cache.release(spark) >= 1


def test_release_one_leaves_siblings(spark):
    a = _cache.eager_persist(spark.range(3))
    b = _cache.eager_persist(spark.range(4))
    try:
        assert _cache.release_one(a)
        assert not a.storageLevel.useMemory
        assert b.storageLevel.useMemory
        ent = _cache._REGISTRY[spark]
        assert any(d is b for _, d in ent.values())
        assert not any(d is a for _, d in ent.values())
    finally:
        _cache.release(spark)


def test_pinned_persist_rebuilds_for_different_session_object(spark):
    """A different session object under the same key must build its
    own pin, never be served the other session's DataFrame."""
    calls = []

    def builder(session):
        def build():
            calls.append(session)
            return session.range(5)
        return build

    df1 = _cache.pinned_persist(spark, "t-idreuse", builder(spark))
    df2 = _cache.pinned_persist(spark, "t-idreuse", builder(spark))
    assert df1 is df2 and calls == [spark]
    other = spark.newSession()
    df3 = _cache.pinned_persist(other, "t-idreuse", builder(other))
    assert calls == [spark, other], "another session's pin was served"
    assert df3 is not df1 and df3.sparkSession is other
    assert df3.storageLevel.useMemory
    assert _cache.release(other, "session") == 1
    assert other not in _cache._REGISTRY
    assert _cache.pinned_persist(spark, "t-idreuse", builder(spark)) is df1
    _cache.release(spark, "session")


def test_release_pinned_zeroes_resident_storage(spark):
    """End-of-session teardown (bench's leaked_storage_bytes gate):
    a session-scope release unpersists every pin of the session and
    later calls rebuild from scratch."""
    calls = []

    def builder():
        calls.append(1)
        return spark.range(7)

    df = _cache.pinned_persist(spark, "t-teardown", builder)
    assert df.storageLevel.useMemory
    n = _cache.release(spark, "session")
    assert n >= 1
    assert "t-teardown" not in _cache._REGISTRY.get(spark, {})
    assert not df.storageLevel.useMemory  # actually unpersisted
    df2 = _cache.pinned_persist(spark, "t-teardown", builder)
    assert len(calls) == 2  # rebuilt, not served stale
    _cache.release(spark, "session")
