"""Semantics of the duplicate-cluster family (connected components,
survivors, simhash hamming pairs) on the planted-duplicate corpus.

The oracle parity test proves Spark == DuckDB; these assert the
PLANTED STRUCTURE is what both agree on — i.e. the green rows are
non-vacuous and the clustering actually groups the planted copies."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from paddleocr_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


def test_duplicate_clusters_group_planted_copies(spark):
    rows = dedup.duplicate_clusters(spark, SF_DIR).collect()
    label = {r.doc_id: r.cluster_id for r in rows}
    size = {r.doc_id: r.cluster_size for r in rows}

    # every planted exact copy lands in its original's cluster (the
    # label may be below d: natural near-dups, e.g. 8~12 at sf0.001,
    # legitimately merge planted clusters)
    for d in range(dedup.EXACT_PLANT_N):
        plant = d + dedup.EXACT_PLANT_OFFSET
        assert plant in label, f"exact plant {plant} not clustered"
        assert label[plant] == label[d] <= d

    # cluster_id is the min of its members; sizes are consistent
    by_cluster = {}
    for doc, lbl in label.items():
        by_cluster.setdefault(lbl, []).append(doc)
    for lbl, members in by_cluster.items():
        assert lbl == min(members)
        assert all(size[m] == len(members) for m in members)


def test_fuzzy_dedup_survivors_keep_one_per_cluster(spark):
    surv = {r.doc_id
            for r in dedup.fuzzy_dedup_survivors(spark, SF_DIR).collect()}
    clusters = dedup.duplicate_clusters(spark, SF_DIR).collect()
    losers = {r.doc_id for r in clusters if r.doc_id != r.cluster_id}
    keepers = {r.cluster_id for r in clusters}

    assert keepers <= surv
    assert not (losers & surv)
    # originals survive, their exact plants do not
    assert 0 in surv and dedup.EXACT_PLANT_OFFSET not in surv


def test_simhash_near_dups_find_exact_plants_at_hamming_zero(spark):
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in dedup.simhash_near_dups(spark, SF_DIR).collect()}
    for d in range(dedup.EXACT_PLANT_N):
        key = (d, d + dedup.EXACT_PLANT_OFFSET)
        assert pairs.get(key) == 0, f"exact plant pair {key} missing"
    assert all(h <= dedup.MAX_HAMMING for h in pairs.values())


def test_duplicate_clusters_label_long_chains(spark, monkeypatch):
    """A near-dup chain far longer than any round cap is one cluster:
    the star loop's rounds grow with log(n), not with the diameter."""
    from paddleocr_spark.operators._cache import release

    for n_edges in (21, 1000):
        path = spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(n_edges)], dedup.NEAR_DUP_SCHEMA)
        monkeypatch.setattr(dedup, "near_dup_pairs",
                            lambda spark, sf_dir, threshold: path)
        rows = dedup.duplicate_clusters(spark, SF_DIR).collect()
        release(spark)
        assert len(rows) == n_edges + 1
        assert {(r.cluster_id, r.cluster_size) for r in rows} == {
            (0, n_edges + 1)}
