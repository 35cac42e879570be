"""Similarity search over an embedding column (array<float>).

- ``cosine_topk_bruteforce``: the correctness baseline — broadcast the
  (small) query set, JVM-side dot products via zip_with/aggregate, and
  a per-query top-k window. One shuffle (the window); the scan side
  never re-partitions. At 10^12 rows this is the exact-scoring path you
  run *after* an index narrows candidates.
- ``cosine_topk_ivf``: inverted-file ANN — deterministic sample-init
  centroids (the vec_id prefix, so the oracle reproduces the index),
  one broadcast-scored cell assignment per vector (a one-off index
  build at production scale), NPROBE-cell probing per query, exact
  rerank on probed cells only. recall@5 = 0.875 vs bruteforce at
  nprobe=4 of 32 cells on the test corpus; raise NPROBE for recall,
  N_CENTROIDS for occupancy, independently of the plan shape.
- ``cosine_topk_lsh`` / ``embedding_near_dups``: the scale path —
  random-hyperplane LSH for cosine. SIGN_BANDS bands of SIGN_BITS
  hyperplanes each; a vector's bucket in a band is the sign bitmask of
  its dot products with that band's planes. Candidates must share a
  (band, bucket) key — an equi-join, so cost scales with bucket
  occupancy N/2^SIGN_BITS per band, not corpus size. Multiple bands
  play the multi-probe role: a near-dup pair (cosine c) collides in one
  band with prob (1 - acos(c)/pi)^SIGN_BITS, and in ≥1 of B bands with
  prob 1-(1-p)^B (c=0.9, 8 bits, 8 bands → ~0.92 recall). At larger N,
  raise SIGN_BITS (occupancy N/2^bits) and B together — the knobs are
  independent of the plan shape.

The hyperplane coefficients are seeded and rounded to 6 dp, and the
DuckDB oracle embeds them as literal arrays, so both engines bucket
identically. All arithmetic is float→double in array order; results
round to 6 dp before comparison.

The test corpus has no high-cosine pairs, so ``embedding_near_dups``
runs over the corpus augmented with deterministically perturbed copies
(x → x*1.01 + 0.001) of a vec_id prefix — mirrored in the oracle — so
the operator is observed producing output.
"""

from __future__ import annotations

import numpy as np

from paddleocr_spark.sources.tables import (
    derived_dir,
    derived_table,
    load_table,
    table_path,
)

__all__ = ["N_QUERIES", "TOP_K", "SIGN_BANDS", "SIGN_BITS", "EMB_DIM",
           "PLANES", "PLANT_N", "PLANT_OFFSET", "N_CENTROIDS", "NPROBE",
           "N_LLOYD", "NPROBE_REFINED",
           "cosine_topk_bruteforce", "cosine_topk_lsh",
           "cosine_topk_ivf", "cosine_topk_ivf_refined",
           "build_ivf_index", "ivf_index_numpy", "ivf_dir", "IVF_SCHEMAS",
           "embedding_near_dups"]

N_QUERIES = 8
TOP_K = 5
SIGN_BANDS = 8
SIGN_BITS = 8          # 2^8 = 256 buckets per band
EMB_DIM = 64
PLANT_N = 16
PLANT_OFFSET = 1_000_000

# seeded random hyperplanes, rounded so the DuckDB oracle can embed
# them as exact literals (PLANES[band*SIGN_BITS + bit][dim])
_rng = np.random.default_rng(777)
PLANES = [[float(v) for v in row]
          for row in _rng.standard_normal(
              (SIGN_BANDS * SIGN_BITS, EMB_DIM)).round(6)]
del _rng


def _dot(F, a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def _norm(F, a):
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, v: acc + v * v))


def _cosine(F, a, b):
    return _dot(F, a, b) / (_norm(F, a) * _norm(F, b))


def _load(spark, sf_dir):
    from pyspark.sql import functions as F

    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))


def _augmented(spark, sf_dir):
    """embeddings ∪ planted near-copies (deterministic perturbation,
    mirrored in the oracle)."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators.dedup import _assert_plant_headroom

    emb = _load(spark, sf_dir)
    _assert_plant_headroom(emb, "vec_id", PLANT_OFFSET, sf_dir)
    planted = (emb.where(F.col("vec_id") < PLANT_N)
               .select((F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
                       F.transform(F.col("emb"),
                                   lambda x: x * F.lit(1.01) + F.lit(0.001))
                       .alias("emb")))
    return emb.unionByName(planted)


def cosine_topk_bruteforce(spark, sf_dir: str, n_queries: int = N_QUERIES,
                           k: int = TOP_K):
    from pyspark.sql import functions as F

    emb = _load(spark, sf_dir).withColumn("nrm", _norm(F, F.col("emb")))
    queries = (emb.where(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("emb").alias("qemb"),
                       F.col("nrm").alias("qnrm")))
    return _top_k(F, emb.crossJoin(F.broadcast(queries)), k, dedup=False)


def _top_k(F, pairs, k: int, dedup: bool = True):
    """(query_id, rank, vec_id, cosine): the ``k`` best-scoring vectors
    of each query over its candidate ``pairs`` (query_id, qemb, qnrm,
    vec_id, emb, nrm), self-pairs excluded, rank ties to the smaller
    vec_id. ``dedup`` scores a pair once however often it appears (a
    shuffle that pairs known to be distinct skip)."""
    from pyspark.sql import Window

    scored = (pairs.where(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      F.round(_dot(F, F.col("qemb"), F.col("emb"))
                              / (F.col("qnrm") * F.col("nrm")), 6)
                      .alias("cosine")))
    if dedup:
        scored = scored.dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "cosine"))


def _band_buckets(F, df, emb_col: str = "emb"):
    """vec rows → (…, band, bucket): ONE mapInArrow appends each row's
    ``SIGN_BANDS`` bucket ids, then ``posexplode`` makes the band rows.

    The naive Catalyst form — SIGN_BANDS*SIGN_BITS = 64
    ``aggregate(zip_with(...))`` folds per row — is interpreted
    per-element (higher-order functions don't codegen), costing
    dim*planes = 4096 expression-tree steps per row, and the
    near-dups self-join evaluates it twice. The Arrow batch form does
    the same arithmetic as NumPy row-vector ops. Bit-exactness with
    the DuckDB oracle is preserved by accumulating dims LEFT-TO-RIGHT
    (one vectorized add per dim), the exact fold order of the previous
    Catalyst ``aggregate`` and of the oracle's SQL fold — no matmul,
    whose pairwise summation could flip a near-zero sign."""
    from pyspark.sql.types import StructType

    from paddleocr_spark.functions.udfs import row_batch

    planes = np.asarray(PLANES, dtype=np.float64)  # (bands*bits, dim)
    to_buckets = row_batch("buckets array<int>")
    schema = StructType([*df.schema,
                         *StructType.fromDDL("buckets array<int>")])

    def buckets(batches):
        import pyarrow as pa

        for b in batches:
            if not b.num_rows:
                continue
            m = np.array(b.column(emb_col).to_pylist(), dtype=np.float64)
            dots = np.empty((m.shape[0], planes.shape[0]))
            for p in range(planes.shape[0]):
                acc = np.zeros(m.shape[0])
                for d in range(m.shape[1]):
                    acc = acc + m[:, d] * planes[p, d]
                dots[:, p] = acc
            # band b's bucket: its SIGN_BITS sign bits, bit k = plane
            # b * SIGN_BITS + k
            bits = (dots >= 0).reshape(len(m), SIGN_BANDS, SIGN_BITS)
            res = (bits << np.arange(SIGN_BITS)).sum(axis=2)
            out = to_buckets([(row,) for row in res.tolist()])
            yield pa.RecordBatch.from_arrays(
                [*b.columns, out.column(0)],
                schema=b.schema.append(out.schema.field(0)))

    return (df.mapInArrow(buckets, schema)
            .select(*df.columns, F.posexplode("buckets")
                    .alias("band", "bucket")))


def cosine_topk_lsh(spark, sf_dir: str, n_queries: int = N_QUERIES,
                    k: int = TOP_K):
    """Approximate top-k: candidates = vectors sharing ≥1 (band,
    bucket) key with the query, exact cosine on candidates only."""
    from pyspark.sql import functions as F

    emb = _load(spark, sf_dir)
    bands = _band_buckets(F, emb).withColumn("nrm", _norm(F, F.col("emb")))
    # the query side buckets its n_queries rows in a stage of its own:
    # Catalyst pushes no filter below a mapInArrow
    qbands = (_band_buckets(F, emb.where(F.col("vec_id") < n_queries))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("emb").alias("qemb"),
                      _norm(F, F.col("emb")).alias("qnrm"), "band", "bucket"))
    # a pair colliding in several bands scores identically in each;
    # _top_k dedups the small (id, id, score) rows, not the embs
    return _top_k(F, bands.join(F.broadcast(qbands), ["band", "bucket"]),
                  k)


def embedding_near_dups(spark, sf_dir: str, threshold: float = 0.9):
    """Embedding-cosine near-duplicate pairs over the planted-augmented
    corpus, blocked by (band, bucket): scoring touches only same-bucket
    pairs, so cost follows bucket occupancy (N/2^SIGN_BITS per band)."""
    from pyspark.sql import functions as F

    # norm computed ONCE per (vec, band) row — not per candidate pair
    # (bucket occupancy makes pairs ~occupancy× more numerous)
    bands = _band_buckets(F, _augmented(spark, sf_dir)) \
        .withColumn("nrm", _norm(F, F.col("emb")))
    a = bands.select(F.col("vec_id").alias("vec_a"),
                     F.col("emb").alias("ea"), F.col("nrm").alias("na"),
                     "band", "bucket")
    b = bands.select(F.col("vec_id").alias("vec_b"),
                     F.col("emb").alias("eb"), F.col("nrm").alias("nb"),
                     "band", "bucket")
    return (a.join(b, ["band", "bucket"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b",
                    F.round(_dot(F, F.col("ea"), F.col("eb"))
                            / (F.col("na") * F.col("nb")), 6)
                    .alias("cosine"))
            # threshold BEFORE the dedup shuffle: a pair scores the
            # same in every colliding band, so filtering first is
            # equivalent and the distinct only sees the few survivors
            .where(F.col("cosine") >= threshold)
            .dropDuplicates(["vec_a", "vec_b"]))


# --- IVF (inverted-file) ANN variant ---------------------------------
# Coarse quantizer = the first N_CENTROIDS corpus vectors (the classic
# sample-init; deterministic, so the DuckDB oracle reproduces the cell
# assignment exactly). Every vector lands in its best cell (one
# broadcast-scored argmax — cost N x N_CENTROIDS, linear in N); a query
# probes its NPROBE nearest cells and reranks ONLY those cells'
# members with the exact cosine. At 10^12 rows the assignment is a
# one-off index build (written as its own table) and query cost follows
# probed-cell occupancy ~ NPROBE * N / N_CENTROIDS — the
# occupancy-not-corpus scaling of the LSH path with tunable recall
# (raise NPROBE) independent of the hash-family geometry.

N_CENTROIDS = 32
NPROBE = 4


def _centroids(F, emb):
    return (emb.where(F.col("vec_id") < N_CENTROIDS)
            .select(F.col("vec_id").alias("cid"),
                    F.col("emb").alias("cemb"),
                    F.col("nrm").alias("cnrm")))


def _best_cells(F, Window, df, cent, id_col: str, k: int):
    """Per id: top-k centroids by cosine (rank window, ties to the
    smaller cid — deterministic in both engines)."""
    scored = (df.crossJoin(F.broadcast(cent))
              .select(id_col, "cid",
                      # 9-dp round before ranking: keeps the cell
                      # choice identical across engines whose dot
                      # folds differ in the last float bit
                      F.round(_dot(F, F.col("emb"), F.col("cemb"))
                              / (F.col("nrm") * F.col("cnrm")), 9)
                      .alias("ccos")))
    w = Window.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("cid"))
    return (scored.withColumn("crk", F.row_number().over(w))
            .where(F.col("crk") <= k))


def _ivf_probe_rerank(F, Window, emb, cent, assign, n_queries: int,
                      k: int, nprobe: int):
    """Shared IVF query path: probe each query's ``nprobe`` nearest
    cells, exact-rerank the probed cells' members (rank ties to the
    smaller vec_id). Both IVF variants differ only in where (cent,
    assign) come from."""
    members = (emb.join(assign, "vec_id")
               .select("cid", "vec_id", "emb", "nrm"))
    queries = (emb.where(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("emb").alias("qemb"),
                       F.col("nrm").alias("qnrm")))
    probes = (_best_cells(
        F, Window,
        queries.select("query_id", F.col("qemb").alias("emb"),
                       F.col("qnrm").alias("nrm")),
        cent, "query_id", nprobe)
        .select("query_id", "cid"))
    return _top_k(F, probes.join(queries, "query_id").join(members, "cid"),
                  k)


def cosine_topk_ivf(spark, sf_dir: str, n_queries: int = N_QUERIES,
                    k: int = TOP_K, nprobe: int = NPROBE):
    """IVF approximate top-k: assign every vector to its nearest
    centroid cell, probe each query's ``nprobe`` nearest cells, exact
    cosine rerank over the probed cells only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = _load(spark, sf_dir).withColumn("nrm", _norm(F, F.col("emb")))
    cent = _centroids(F, emb)
    assign = (_best_cells(F, Window, emb, cent, "vec_id", 1)
              .select("vec_id", "cid"))
    return _ivf_probe_rerank(F, Window, emb, cent, assign,
                             n_queries, k, nprobe)


# --- refined IVF: Lloyd-iterated centroids, persisted index ----------
# The sample-init centroids above are the one-shot demo; a production
# index runs a few Lloyd rounds and PERSISTS (centroids, assignment)
# as tables built once and reused by every query — at 10^12 rows the
# build is a batch job, the query path only reads. Both steps are
# deterministic (9-dp rounded cosine ranking with ties to the smaller
# cid; per-dim means rounded to 6 dp per iteration) so the pure-NumPy
# twin (ivf_index_numpy) and the DuckDB oracle reproduce the index
# value-for-value, and empty cells drop out (standard dead-centroid
# behavior). recall@5 vs bruteforce on the test corpus: see
# tests/test_similarity_ivf.py (≥0.95 at nprobe=8).

N_LLOYD = 2
NPROBE_REFINED = 8


# what build_ivf_index writes, one table per subdirectory
IVF_SCHEMAS = {"centroids": "cid long, cemb array<double>",
               "assign": "vec_id long, cid long"}


def _ivf_key(sf_dir: str, iters: int):
    # v3: exact integer-micro Lloyd means (the centroid-content rule
    # keys the index — a stale v2 index would diverge from the twin)
    return ("ivf", "v3", [table_path(sf_dir, "embeddings")],
            (N_CENTROIDS, iters))


def ivf_dir(sf_dir: str) -> str:
    """Where the IVF index of ``sf_dir`` lives, whichever builder wrote
    it (no SparkSession needed: the oracle reads it)."""
    return derived_dir(*_ivf_key(sf_dir, N_LLOYD))


def _refine_centroids(F, emb, cent, Window):
    """One Lloyd step as DataFrame jobs: assign → per-dim mean
    (groupBy(cid, dim) via posexplode) → re-assemble arrays.

    The per-dim mean is computed in EXACT integer micro-units: each
    component is rounded to 1e-6 (HALF_UP, same as the final centroid
    grid), summed as a long (order-independent, unlike a double
    F.avg whose partition-order summation can land either side of the
    6-dp rounding boundary and flake the NumPy-twin equality test),
    then one double division + HALF_UP round — every step is the
    identical IEEE/decimal operation in the NumPy twin. Long sums are
    exact below ~2^53/3e6 members per cell; beyond that the cast
    becomes decimal(38,0), same semantics."""
    assign = (_best_cells(F, Window, emb, cent, "vec_id", 1)
              .select("vec_id", "cid"))
    dims = (emb.join(assign, "vec_id")
            .select("cid", F.posexplode("emb").alias("d", "v")))
    q = F.round(F.col("v") * 1e6, 0).cast("long")
    means = (dims.groupBy("cid", "d")
             .agg((F.round(F.sum(q).cast("double") / F.count("v"), 0)
                   .cast("long") / F.lit(1e6)).alias("m")))
    return (means.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m")))
                 .alias("dm"))
            .select("cid", F.transform("dm", lambda s: s["m"])
                    .alias("cemb"))
            .withColumn("cnrm", _norm(F, F.col("cemb"))))


def build_ivf_index(spark, sf_dir: str, iters: int = N_LLOYD) -> str:
    """Build (or load) the persisted IVF index for this corpus:
    Lloyd-refined centroids + final cell assignment, committed together
    once and reused by every cosine_topk_ivf_refined call. Returns the
    index directory."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def build(out):
        emb = _load(spark, sf_dir).withColumn("nrm", _norm(F, F.col("emb")))
        cent = _centroids(F, emb)
        for _ in range(iters):
            cent = _refine_centroids(F, emb, cent, Window)
        assign = (_best_cells(F, Window, emb, cent, "vec_id", 1)
                  .select("vec_id", "cid"))
        (cent.select("cid", "cemb").repartition(1)
         .write.parquet(os.path.join(out, "centroids")))
        assign.repartition(1).write.parquet(os.path.join(out, "assign"))

    return derived_table(*_ivf_key(sf_dir, iters), build)


def ivf_index_numpy(sf_dir: str, iters: int = N_LLOYD):
    """Deterministic pure-NumPy twin of build_ivf_index (same rounding
    rules) — the independent construction the equality test pins the
    DataFrame build against, and the oracle-side fallback builder.
    Returns (centroids: {cid: list}, assign: {vec_id: cid})."""
    import pyarrow.parquet as pq

    tb = pq.read_table(f"{sf_dir}/embeddings.parquet",
                       columns=["vec_id", "embedding"])
    vec_ids = np.asarray(tb["vec_id"].to_pylist(), dtype=np.int64)
    emb = np.asarray(tb["embedding"].to_pylist(), dtype=np.float64)
    order = np.argsort(vec_ids)
    vec_ids, emb = vec_ids[order], emb[order]
    def _seq_sq(a):
        # sequential per-dim fold == Spark's F.aggregate(acc + v*v);
        # numpy's .sum/@ use pairwise summation, which can land on the
        # other side of a rounding boundary in the last ulp
        acc = np.zeros(a.shape[0])
        for d in range(a.shape[1]):
            acc = acc + a[:, d] * a[:, d]
        return acc

    def _seq_dot(a, b):
        acc = np.zeros((a.shape[0], b.shape[0]))
        for d in range(a.shape[1]):
            acc = acc + np.outer(a[:, d], b[:, d])
        return acc

    nrm = np.sqrt(_seq_sq(emb))

    cids = vec_ids[vec_ids < N_CENTROIDS]
    cents = emb[vec_ids < N_CENTROIDS]

    def assign_all(cids, cents):
        cn = np.sqrt(_seq_sq(cents))
        cos = np.round(_seq_dot(emb, cents) / np.outer(nrm, cn), 9)
        # ties to the smaller cid: columns are cid-ascending, argmax
        # takes the first maximum
        return cids[np.argmax(cos, axis=1)]

    # exact-integer per-dim means, the twin of _refine_centroids:
    # q = HALF_UP(v * 1e6) per component (Decimal of the exact double,
    # = Spark F.round(double, 0)); long sums are order-independent;
    # int/int true division == Spark's double(S)/double(n) since both
    # operands are exactly representable
    from decimal import ROUND_HALF_UP, Decimal

    def _half_up(x: float) -> int:
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    emb_q = np.asarray([[_half_up(v * 1e6) for v in row]
                        for row in emb.tolist()], dtype=np.int64)

    for _ in range(iters):
        a = assign_all(cids, cents)
        new_cids, new_cents = [], []
        for cid in cids:
            sel = a == cid
            if sel.any():
                n = int(sel.sum())
                sums = emb_q[sel].sum(axis=0)
                new_cids.append(cid)
                new_cents.append([_half_up(int(s) / n) / 1e6
                                  for s in sums])
        cids = np.asarray(new_cids, dtype=np.int64)
        cents = np.asarray(new_cents)
    a = assign_all(cids, cents)
    return ({int(c): [float(v) for v in row]
             for c, row in zip(cids, cents)},
            {int(v): int(c) for v, c in zip(vec_ids, a)})


def write_ivf_index_numpy(sf_dir: str) -> str:
    """Materialize the NumPy-built index in the same parquet layout and
    at the same key as build_ivf_index (oracle-side ensure, no
    SparkSession needed). Returns the index directory."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(out):
        cents, assign = ivf_index_numpy(sf_dir)
        cids, vids = sorted(cents), sorted(assign)
        for sub, cols in (
                ("centroids", {"cid": pa.array(cids, pa.int64()),
                               "cemb": pa.array([cents[c] for c in cids],
                                                pa.list_(pa.float64()))}),
                ("assign", {"vec_id": pa.array(vids, pa.int64()),
                            "cid": pa.array([assign[v] for v in vids],
                                            pa.int64())})):
            os.makedirs(os.path.join(out, sub))
            pq.write_table(pa.table(cols),
                           os.path.join(out, sub, "part-0.parquet"))

    return derived_table(*_ivf_key(sf_dir, N_LLOYD), build)


def cosine_topk_ivf_refined(spark, sf_dir: str,
                            n_queries: int = N_QUERIES, k: int = TOP_K,
                            nprobe: int = NPROBE_REFINED):
    """IVF top-k over the PERSISTED Lloyd-refined index: the query
    path reads (centroids, assignment) tables — the index builds once
    per corpus — probes each query's ``nprobe`` nearest cells and
    exact-reranks only their members."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    idx = build_ivf_index(spark, sf_dir)
    cent = (spark.read.schema(IVF_SCHEMAS["centroids"])
            .parquet(os.path.join(idx, "centroids"))
            .withColumn("cnrm", _norm(F, F.col("cemb"))))
    assign = (spark.read.schema(IVF_SCHEMAS["assign"])
              .parquet(os.path.join(idx, "assign")))
    emb = _load(spark, sf_dir).withColumn("nrm", _norm(F, F.col("emb")))
    return _ivf_probe_rerank(F, Window, emb, cent, assign,
                             n_queries, k, nprobe)
