"""Deduplication operators over a (doc_id, text) corpus.

Four families, all shuffle-conscious:

- exact:       hash-groupBy on normalized-content md5 (one shuffle,
               map-side partial agg).
- minhash+LSH: k=128 min-hashes over DISTINCT 3-word shingles → 16
               bands of 8 rows → candidate pairs via equi-join on
               (band, band_hash) — never the O(N²) cross join. One md5
               per shingle gives a 60-bit base hash; the k permutations
               are cheap affine maps (a_i*h + b_i) mod 2^31-1 with
               fixed seeded coefficients, so the DuckDB oracle
               reproduces every signature bit-for-bit.
- simhash:     32-bit sign-of-weighted-bit-sums fingerprint as 32
               conditional-count aggregates in one groupBy.
- n-gram Jaccard verify: exact 3-shingle-set Jaccard on the (small)
               LSH candidate set only.

Parameter rationale (the 100 TB story): unigram shingles over a small
vocabulary make band hashes collide massively (41% of all pairs became
candidates on the round-1 corpus — degenerate toward quadratic). 3-word
shingles make random-doc shingle overlap ≈ 0, and 8 rows/band drives a
band-collision probability of J^8 (J=0.7 → 0.06 per band), while 16
bands keep recall for true near-dups at 1-(1-J^8)^16 ≈ 0.61 at J=0.7
and ≈ 0.99 at J=0.9. Band-key cardinality ~ docs × 16 and hot bands
hold only genuinely-similar docs, so the join stays linear-ish; AQE
skew-join splits any residual hot band (e.g. boilerplate-only docs).

The test corpus has no natural duplicates, so the pair-producing
operators PLANT deterministic duplicates (exact copies + suffix-edited
near copies of a doc_id prefix) — mirrored verbatim in the DuckDB
oracles — so dup groups and near-dup pairs are actually observed.
"""

from __future__ import annotations

import numpy as np

from paddleocr_spark.sources.tables import (
    derived_table,
    load_table,
    table_path,
)

__all__ = [
    "N_HASHES", "N_BANDS", "ROWS_PER_BAND", "MINHASH_PRIME", "AFFINE",
    "SHINGLE_N", "NEAR_PLANT_N", "NEAR_PLANT_OFFSET", "NEAR_PLANT_SUFFIX",
    "EXACT_PLANT_N", "EXACT_PLANT_OFFSET",
    "norm_content", "salted_hash60", "exact_dedup", "minhash_signatures",
    "lsh_candidate_pairs", "near_dup_pairs", "simhash32",
    "lsh_candidate_pairs_df",
    "simhash_near_dups", "duplicate_clusters", "fuzzy_dedup_survivors",
    "build_near_dup_edges",
    "HAM_BLOCKS", "MAX_HAMMING",
]

N_HASHES = 128
N_BANDS = 16
ROWS_PER_BAND = N_HASHES // N_BANDS  # 8
MINHASH_PRIME = 2147483647  # 2^31-1: products stay < 2^62 (no overflow)
SHINGLE_N = 3
SIM_BITS = 32

# planted duplicates (see module docstring)
NEAR_PLANT_N = 50
NEAR_PLANT_OFFSET = 1_000_000
NEAR_PLANT_SUFFIX = " planted near duplicate suffix"
EXACT_PLANT_N = 25
EXACT_PLANT_OFFSET = 2_000_000

# fixed affine-permutation coefficients, identical in the DuckDB oracle
_rng = np.random.default_rng(12345)
AFFINE = [(int(a), int(b))
          for a, b in zip(_rng.integers(1, MINHASH_PRIME, N_HASHES),
                          _rng.integers(0, MINHASH_PRIME, N_HASHES))]
del _rng


def norm_content(F, col):
    """THE content normalization (lowercase, collapsed whitespace,
    trimmed). Batch exact-dedup, simhash, fingerprints, and the
    streaming exact-dedup all key on md5 of THIS expression — their
    batch==streaming and Spark==DuckDB-oracle equalities are
    load-bearing, so there is exactly one copy of it."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def _norm_tokens(F, col):
    return F.split(norm_content(F, col), " ")


def salted_hash60(F, w, salt):
    """60-bit hash_salt(w) = int(md5(salt || ':' || w)[:15], 16).
    Mirrored exactly by the DuckDB oracle (`_wh`). THE deterministic
    hash for sampling/permutations/priorities across the repo — one
    copy, in lockstep with its SQL twin."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), w)), 1, 15), 16, 10
    ).cast("long")


SAMPLE_BUCKETS = 1_000_000


def ratio_keep(F, key_col, ratio: float, salt):
    """Deterministic ratio-sampling predicate: md5-bucket(key) <
    half-up(ratio * 1e6). NOT int() (float truncation lands one bucket
    low for ~0.1% of exact micro-ratios, e.g. 0.000498 * 1e6 ->
    497.999...) and NOT round() (banker's half-even rounds exact
    .5-bucket ratios DOWN half the time). ONE copy serving
    tables.load_documents_sampled and pgnet.read_pgnet_sources;
    pure-Python oracle twins must restate the same +0.5 floor."""
    return (salted_hash60(F, key_col, salt) % SAMPLE_BUCKETS
            < int(ratio * SAMPLE_BUCKETS + 0.5))


# internal alias (historic name used throughout this module)
_word_hash = salted_hash60


_PLANT_HEADROOM_OK: set[str] = set()


def _assert_plant_headroom(df, id_col: str, offset: int, key: str):
    """Plant ids are ``real_id + offset`` and must stay POSITIVE (the
    min-id keeper rule must prefer the ORIGINAL doc over its plant, so
    negative plant ids — curation's trick — are wrong here). That makes
    collision with real ids possible on a corpus whose ids reach the
    offset: fail LOUDLY instead of silently merging two documents.
    One column-pruned max-scan per (corpus, offset) per session."""
    k = f"{key}:{offset}"
    if k in _PLANT_HEADROOM_OK:
        return
    from pyspark.sql import functions as F

    mx = df.agg(F.max(id_col).alias("m")).collect()[0]["m"]
    if mx is not None and int(mx) >= offset:
        raise ValueError(
            f"corpus max {id_col} {mx} >= plant offset {offset}: "
            f"planted fixture ids would collide with real ids — raise "
            f"the offset (or disable planting) for this corpus")
    _PLANT_HEADROOM_OK.add(k)


def _augmented_docs(spark, sf_dir: str):
    """documents ∪ planted exact copies ∪ planted near copies.

    Deterministic (pure column expressions), mirrored verbatim in the
    DuckDB oracle CTE, so the dup operators are observed producing
    non-trivial output on a corpus with no natural duplicates."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _assert_plant_headroom(df, "doc_id", min(NEAR_PLANT_OFFSET,
                                             EXACT_PLANT_OFFSET), sf_dir)
    near = (df.where(F.col("doc_id") < NEAR_PLANT_N)
            .select((F.col("doc_id") + NEAR_PLANT_OFFSET).alias("doc_id"),
                    F.concat(F.col("text"),
                             F.lit(NEAR_PLANT_SUFFIX)).alias("text")))
    exact = (df.where(F.col("doc_id") < EXACT_PLANT_N)
             .select((F.col("doc_id") + EXACT_PLANT_OFFSET).alias("doc_id"),
                     "text"))
    return df.unionByName(near).unionByName(exact)


def _shingles(F, toks_col, n: int = SHINGLE_N):
    """Distinct n-word shingles of a token-array column (total: short
    docs yield an empty array, never an error). Default n is the
    minhash SHINGLE_N; curation's decontamination grams reuse this
    with n=NGRAM_N.

    toks_col MUST be a bound column reference, not the raw
    split(regexp_replace(...)) expression: the lambda references it
    per element, and Catalyst re-evaluates an inline expression each
    time — measured quadratic (18 s for one shingle pass at sf0.1 vs
    ~1 s with a materialized column)."""
    return F.array_distinct(F.filter(
        F.transform(
            toks_col,
            lambda x, i: F.when(
                i + n - 1 < F.size(toks_col),
                F.concat_ws(" ", x, *[F.element_at(toks_col, i + 1 + j)
                                      for j in range(1, n)]))),
        lambda s: s.isNotNull()))


def _signatures(F, docs):
    """(doc_id, text) → (doc_id, mh0..mh127): one md5 per distinct
    shingle, then 128 affine permutations min-aggregated in a single
    map-side-combinable groupBy."""
    toks = docs.select("doc_id", _norm_tokens(F, F.col("text")).alias("tk"))
    sh = toks.select("doc_id", F.explode(_shingles(F, F.col("tk"))).alias("s"))
    h = sh.select("doc_id",
                  (_word_hash(F, F.col("s"), 0) % MINHASH_PRIME).alias("h"))
    aggs = [F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME)
            .alias(f"mh{i}") for i, (a, b) in enumerate(AFFINE)]
    return h.groupBy("doc_id").agg(*aggs)


def _band_hashes(F, sig):
    """signature → (doc_id, band, band_hash) via ONE posexplode (no
    16-way union scan)."""
    band_cols = []
    for bnd in range(N_BANDS):
        cols = [F.col(f"mh{bnd * ROWS_PER_BAND + r}").cast("string")
                for r in range(ROWS_PER_BAND)]
        band_cols.append(F.md5(F.concat_ws("_", *cols)))
    return sig.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band", "band_hash"))


def exact_dedup(spark, sf_dir: str):
    """Exact duplicate groups: normalized-md5 → (n_docs, keeper), over
    the planted-augmented corpus (keeper = lowest doc_id, so planted
    copies collapse onto their originals)."""
    from pyspark.sql import functions as F

    df = _augmented_docs(spark, sf_dir)
    norm = norm_content(F, F.col("text"))
    return (df.select(F.md5(norm).alias("content_md5"), "doc_id")
            .groupBy("content_md5")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.min("doc_id").alias("keeper_doc_id")))


def minhash_signatures(spark, sf_dir: str):
    """Per-doc k=128 minhash over distinct 3-word shingles."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _signatures(F, df)


def lsh_candidate_pairs(spark, sf_dir: str):
    """Banded-LSH candidates over the planted-augmented corpus (the
    oracle-checked fixture; planted exact copies stay observable)."""
    return lsh_candidate_pairs_df(_augmented_docs(spark, sf_dir))


def near_dup_pairs(spark, sf_dir: str, threshold: float = 0.7):
    """Verified near-dup pairs, served from the persisted edge table
    (built on first call — `build_near_dup_edges`): the query result
    IS that table's content, so recomputing the signatures/bands/
    verify chain per call would be pure waste. The chain itself stays
    demonstrated by `lsh_candidate_pairs` (every run) and by the
    table build; the DuckDB oracle recomputes everything
    independently, so a stale or wrong table can never pass."""
    return (spark.read.schema(NEAR_DUP_SCHEMA)
            .parquet(build_near_dup_edges(spark, sf_dir, threshold)))


def _compute_near_dup_pairs(spark, sf_dir: str, threshold: float = 0.7):
    """LSH candidates verified by exact 3-shingle-set Jaccard — the
    verify step only ever touches the (bounded) candidate set. The
    chain form; queries read the persisted table instead."""
    from pyspark.sql import functions as F

    docs = (_augmented_docs(spark, sf_dir)
            .select("doc_id", _norm_tokens(F, F.col("text")).alias("tk"))
            .select("doc_id", _shingles(F, F.col("tk")).alias("sh")))
    cand = lsh_candidate_pairs(spark, sf_dir)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_union("sa", "sb")).cast("double")
    # threshold the RAW ratio (one int/int division — bit-identical in
    # every engine), round only for output: thresholding the rounded
    # value would admit pairs in [t - 5e-7, t) that the DuckDB oracle's
    # raw-ratio WHERE clause excludes
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .withColumn("jaccard_raw", inter / union)
            .where(F.col("jaccard_raw") >= threshold)
            .select("doc_a", "doc_b",
                    F.round("jaccard_raw", 6).alias("jaccard")))


def lsh_candidate_pairs_df(docs_df, exact_first: bool = False):
    """Banded-LSH candidates over an arbitrary (doc_id, text) corpus:
    band hash = md5 of 8 concatenated minhashes; candidates = docs
    sharing any (band, band_hash) key (a < b). The join key includes
    the band index so cross-band hash coincidences can't create pairs.

    ``exact_first=True`` is the scale-safe composition for corpora
    with large groups of IDENTICAL documents (boilerplate): a group of
    g copies shares every band hash, so the band self-join alone emits
    g²/2 candidate pairs — quadratic in the group, by definition of
    the output. The linear exact-dedup pass collapses each identical
    group to its keeper FIRST, so the band join only ever sees
    distinct content and hot bands hold only genuinely-similar
    near-dups. (The planted-duplicate fixture query keeps
    exact_first=False so planted exact copies are observable.)"""
    from pyspark.sql import functions as F

    docs = docs_df
    if exact_first:
        norm = norm_content(F, F.col("text"))
        docs = (docs_df
                .withColumn("content_md5", F.md5(norm))
                .groupBy("content_md5")
                .agg(F.min("doc_id").alias("doc_id"),
                     F.first("text").alias("text"))
                .drop("content_md5"))
    # the shingle→128-minhash aggregation is the expensive subtree and
    # Catalyst does not reuse it across the self-join's two sides
    # (0 ReusedExchange, measured); persist the tiny (doc_id, band,
    # band_hash) rows so it runs once — EAGERLY, because the join's two
    # sides racing a lazy cache each compute the subtree themselves
    # (no in-flight dedup: 63.6 s vs 22.3 s cold at sf0.1). At
    # production scale signatures are materialized as their own table.
    # Tracked (operators._cache): bench releases between queries.
    from paddleocr_spark.operators._cache import eager_persist

    bands = eager_persist(_band_hashes(F, _signatures(F, docs)))
    a = bands.alias("a")
    b = bands.alias("b")
    return (a.join(b, ["band", "band_hash"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def simhash32(spark, sf_dir: str):
    """32-bit SimHash in ONE groupBy over the token stream.

    Per bit b the signed sum over words is sum(±1) = 2*count(bit set)
    - n_words, so 32 conditional-count aggregates plus one count(*)
    replace the previous explode(words)×crossJoin(32 bits) plan (32×
    row amplification through a shuffle + two groupBys, ~9 s at sf0.1
    vs ~2 s for minhash on the same corpus). All aggregates are
    map-side combinable; at 10^12 docs this shuffles exactly one
    partial-agg row per (partition, doc)."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _simhash_df(F, df)


def _simhash_df(F, docs):
    """(doc_id, text) → (doc_id, simhash) — the one-groupBy SimHash
    core shared by simhash32 and simhash_near_dups."""
    toks = _norm_tokens(F, F.col("text"))  # multiset: repeated words weight more
    words = docs.select("doc_id", F.explode(toks).alias("w"))
    hashed = words.select("doc_id", _word_hash(F, F.col("w"), 99).alias("h"))
    bit_counts = [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(SIM_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(
        F.count("*").alias("n"), *bit_counts)
    sim = F.lit(0).cast("long")
    for b in range(SIM_BITS):
        # bit set iff the signed sum 2*c_b - n > 0 (same sign rule as
        # the per-bit groupBy formulation and the DuckDB oracle)
        sim = sim + F.when(2 * F.col(f"c{b}") - F.col("n") > 0,
                           F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


# SimHash hamming-block LSH: r differing bits across HAM_BLOCKS blocks
# means (pigeonhole) at least one block is bit-identical whenever
# r <= HAM_BLOCKS - 1 — so an equi-join on (block_idx, block_value)
# finds EVERY pair at hamming <= MAX_HAMMING, and the verify step only
# pays bit_count on that candidate set. The DuckDB oracle is the
# brute-force O(N²) hamming join — bit-exact identical output by the
# same pigeonhole argument, which is what makes the hash check a real
# equivalence proof rather than a re-implementation check.
HAM_BLOCKS = 4          # 4 × 8-bit blocks of the 32-bit simhash
MAX_HAMMING = HAM_BLOCKS - 1


def simhash_near_dups(spark, sf_dir: str, max_hamming: int = MAX_HAMMING):
    """Near-duplicate pairs at hamming distance <= max_hamming on the
    32-bit SimHash, found via the block-LSH equi-join (never O(N²)).

    Scale shape: one SimHash groupBy (map-side combinable), a 4×
    posexplode of 8-bit blocks (block-key cardinality = 4 × 256 ×
    distinct-hash-neighborhoods, so buckets stay small unless content
    genuinely repeats), one equi-join, one distinct. Identical-content
    groups collide on every block — same quadratic-in-group caveat as
    banded minhash-LSH, same fix (exact-dedup first; see
    lsh_candidate_pairs_df). Runs over the planted-augmented corpus so
    exact plants (hamming 0) make the output non-vacuous.

    Reference analogue: the corpus-dedup role of content fingerprints;
    the reference engine has no corpus-scale dedup — this is part of
    the LLM-data-pipeline surface (SURVEY §6)."""
    from pyspark.sql import functions as F

    assert max_hamming < HAM_BLOCKS, "pigeonhole completeness bound"
    sims = _simhash_df(F, _augmented_docs(spark, sf_dir))
    from paddleocr_spark.operators._cache import eager_persist

    # tiny (doc_id, simhash) rows; both join sides reuse one compute
    sims = eager_persist(sims)
    blocks = sims.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright("simhash", 8 * i).bitwiseAND(F.lit(255)).cast("int")
            for i in range(HAM_BLOCKS)
        ])).alias("blk", "blk_val"))
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (a.join(b, ["blk", "blk_val"])
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.simhash").alias("sa"),
                     F.col("b.simhash").alias("sb"))
             .distinct())
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (pairs.withColumn("hamming", ham.cast("int"))
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


# what build_near_dup_edges writes; reading it declared saves a footer job
NEAR_DUP_SCHEMA = "doc_a long, doc_b long, jaccard double"


def build_near_dup_edges(spark, sf_dir: str,
                         threshold: float = 0.7) -> str:
    """Build (or load) the persisted near-dup edge table for this
    corpus — the "at production scale the edge list is its own table"
    pattern, made real (same build-once shape as the IVF index in
    operators/similarity.py): the signatures→bands→candidates→verify
    chain runs ONCE and every downstream consumer (cluster formation,
    survivor selection, incremental re-runs) reads (doc_a, doc_b,
    jaccard) rows from parquet. Returns the table directory. Every
    dedup parameter keys the table, the plant constants included: they
    change its content."""
    params = (threshold, N_HASHES, N_BANDS, SHINGLE_N, NEAR_PLANT_N,
              NEAR_PLANT_OFFSET, NEAR_PLANT_SUFFIX, EXACT_PLANT_N,
              EXACT_PLANT_OFFSET)
    return derived_table(
        "near_dup_edges", "v3", [table_path(sf_dir, "documents")], params,
        lambda out: _compute_near_dup_pairs(spark, sf_dir, threshold)
        .write.parquet(out))


def duplicate_clusters(spark, sf_dir: str, threshold: float = 0.7,
                       checkpoint_dir=None):
    """Connected components over the verified near-dup graph: every
    document in a duplicate cluster labelled with the cluster's
    minimum doc_id, plus the cluster size.

    Algorithm: large-star/small-star rounds (operators/graph.py), each
    three window/groupBy exchanges and one count to test the
    fixpoint; rounds grow with log(cluster size), so a long near-dup
    chain converges as surely as a shallow cluster of copies.

    The DuckDB oracle computes the same components as a recursive CTE —
    an independent algorithm (BFS closure, not star rewiring), so the
    hash match checks the component semantics, not the code."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from paddleocr_spark.operators.graph import connected_components

    # cluster formation and survivor selection are incremental jobs
    # over the persisted edge table, not re-runs of the LSH chain
    edges = near_dup_pairs(spark, sf_dir, threshold).select("doc_a", "doc_b")
    labels = connected_components(edges, checkpoint_dir=checkpoint_dir)
    size = F.count("*").over(Window.partitionBy("cluster_id")).cast("long")
    return (labels.select(F.col("node").alias("doc_id"),
                          F.col("label").alias("cluster_id"))
            .withColumn("cluster_size", size))


def fuzzy_dedup_survivors(spark, sf_dir: str, threshold: float = 0.7):
    """The deduplicated corpus: one representative (minimum doc_id)
    per duplicate cluster survives; singletons pass through untouched.
    One left-anti join against the (small) cluster-loser set — the
    full corpus is never shuffled on content."""
    from pyspark.sql import functions as F

    losers = (duplicate_clusters(spark, sf_dir, threshold)
              .where(F.col("doc_id") != F.col("cluster_id"))
              .select("doc_id"))
    docs = _augmented_docs(spark, sf_dir).select("doc_id")
    return docs.join(F.broadcast(losers), "doc_id", "left_anti")
