"""Incremental MinHash-LSH dedup: two arrival waves through the
stream, checked against a pure-Python greedy oracle with the same
online semantics (drop iff near an already-KEPT doc; min-id keeper
within each batch's duplicate components)."""

import itertools

from paddleocr_spark.operators import _cache
from paddleocr_spark.streaming.incremental import streaming_fuzzy_dedup

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india "
         "juliet kilo lima mike november oscar papa quebec romeo "
         "sierra tango").split()


def _doc(seed: int, n: int = 24) -> str:
    """Deterministic ~24-word doc; different seeds share no 3-shingle."""
    return " ".join(WORDS[(seed * 7 + i * (seed + 3)) % len(WORDS)]
                    + str((seed * 31 + i * 13) % 97)
                    for i in range(n))


def _perturb(text: str, pos: int) -> str:
    toks = text.split()
    toks[pos] = "zulu999"
    return " ".join(toks)


def _shingles(text: str):
    t = text.lower().split()
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _greedy_oracle(waves, threshold=0.7):
    """Online-greedy dedup over arrival waves using EXACT Jaccard (the
    128-hash estimator agrees at these planted similarities: ~0.88
    within duplicate groups, ~0.0 across)."""
    kept = []  # (doc_id, text) in arrival order
    for wave in waves:
        fresh = [(i, t) for i, t in wave
                 if not any(_jaccard(t, kt) >= threshold for _, kt in kept)]
        # within-wave components, min-id keeper
        drop = set()
        for (ia, ta), (ib, tb) in itertools.combinations(fresh, 2):
            if _jaccard(ta, tb) >= threshold:
                drop.add(max(ia, ib))
        kept.extend((i, t) for i, t in fresh if i not in drop)
    return {i for i, _ in kept}


def _input_rows(q):
    """numInputRows of each epoch that read data."""
    return [p["numInputRows"] for p in q.recentProgress
            if p["numInputRows"]]


def test_streaming_fuzzy_dedup_two_waves(spark, tmp_path):
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    idx = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # wave 1: 8 mutually-dissimilar docs (exercises the empty-index and
    # empty-within-edges paths)
    wave1 = [(i, _doc(i)) for i in range(8)]
    # wave 2: near-dups of wave-1 docs 0 and 3, a 3-clique of
    # perturbed copies of one NEW original (min id 104 must win),
    # and two fresh docs
    base = _doc(50)
    wave2 = [(100, _perturb(wave1[0][1], 5)),
             (101, _perturb(wave1[3][1], 11)),
             (104, base),
             (105, _perturb(base, 2)),
             (106, _perturb(base, 9)),
             (110, _doc(60)),
             (111, _doc(61))]

    for k, wave in ((1, wave1), (2, wave2)):
        (spark.createDataFrame(wave, "doc_id long, text string")
         .coalesce(1).write.mode("overwrite")
         .parquet(str(docs_dir / f"wave{k}")))

    # every epoch's caches and connected_components localCheckpoint
    # blocks are released once its sinks are written: a long-lived
    # stream must not grow one registry entry, or one resident RDD,
    # per epoch
    jsc = spark.sparkContext._jsc.sc()

    def resident():
        return {r.id() for r in jsc.getRDDStorageInfo()}

    sessions_before, rdds_before = set(_cache._REGISTRY), resident()
    q = streaming_fuzzy_dedup(spark, str(docs_dir) + "/wave*", idx, out,
                              ckpt)
    q.awaitTermination(240)
    # each micro-batch's files are read once: the progress counts each
    # wave's docs once, not once per consumer of the batch
    assert _input_rows(q) == [len(wave1), len(wave2)]
    # one candidate join and one verify per epoch: the stream's jobs
    # (its job group is the query's run id) stay within a fixed budget.
    # AQE's re-planning makes the count vary from run to run: 58-67 on
    # local[4]
    stream_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        q.runId)
    assert 0 < len(stream_jobs) <= 70, len(stream_jobs)
    epoch_sessions = set(_cache._REGISTRY) - sessions_before - {spark}
    assert not epoch_sessions, "an epoch session's caches were kept"
    assert resident() <= rdds_before, "an epoch's blocks stayed resident"

    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    expected = _greedy_oracle([wave1, wave2])
    assert got == expected
    # the planted structure, spelled out: wave1 all kept; 100/101 are
    # near indexed docs -> dropped; the 104/105/106 clique keeps 104;
    # fresh docs kept
    assert got == {0, 1, 2, 3, 4, 5, 6, 7, 104, 110, 111}

    # the index accumulated exactly the keepers' signatures
    sig_ids = {r.doc_id
               for r in spark.read.parquet(f"{idx}/sigs").collect()}
    assert sig_ids == expected

    # a third wave against the ACCUMULATED index: a near-dup of a
    # wave-2 survivor (104) is caught, proving index reads span epochs
    wave3 = [(200, _perturb(base, 15)), (201, _doc(70))]
    (spark.createDataFrame(wave3, "doc_id long, text string")
     .coalesce(1).write.mode("overwrite")
     .parquet(str(docs_dir / "wave3")))
    q = streaming_fuzzy_dedup(spark, str(docs_dir) + "/wave*", idx, out,
                              ckpt)
    q.awaitTermination(240)
    assert _input_rows(q) == [len(wave3)]
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == expected | {201}


def test_half_written_index_treated_as_absent(spark, tmp_path):
    """A crash between the two index appends must degrade to
    'index absent this epoch', never an unreadable index: only sigs/
    present -> the batch still processes, and afterwards both halves
    exist."""
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    idx = tmp_path / "index"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # simulate the crash artifact: sigs/ exists, bands/ does not
    (spark.createDataFrame([(999, [1] * 128)],
                           "doc_id long, sig array<long>")
     .write.parquet(str(idx / "sigs")))

    wave = [(0, _doc(0)), (1, _doc(1))]
    (spark.createDataFrame(wave, "doc_id long, text string")
     .coalesce(1).write.parquet(str(docs_dir / "w1")))
    q = streaming_fuzzy_dedup(spark, str(docs_dir) + "/w*", str(idx),
                              out, ckpt)
    q.awaitTermination(240)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {0, 1}
    assert (idx / "bands" / "_SUCCESS").exists()
