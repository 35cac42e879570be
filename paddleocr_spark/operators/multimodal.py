"""Perceptual image dedup over the media store (pHash + hamming LSH).

Two oracle-checked queries extending the dedup family
(``operators/dedup.py``) to IMAGE payloads:

- ``image_phash``: one Arrow ``mapInArrow`` pass over the media store
  computing the 64-bit pHash (``kernels/phash.py``) of every stored
  image AND of its deterministic 4-bit-requantized degradation (the
  same degradation ``sr_metric`` uses) — the fixture stand-in for
  "the same picture re-encoded at lower quality". Output is all
  bigint, hash-proof across engines. Oracle: the sequential golden
  twin (``golden_image_phash.parquet``).
- ``phash_near_dups``: hamming-distance ≤ 3 pairs via 4x16-bit BLOCK
  LSH — band-split each hash, equi-join on (block index, block
  value), then one exact ``bit_count(xor(...))`` filter over the
  candidates. By pigeonhole, any pair within hamming 3 shares at
  least one of 4 blocks, so the join is COMPLETE for the threshold —
  and the DuckDB oracle is the brute-force O(N²) hamming join over
  the golden hashes, so the driver's compare PROVES completeness, not
  just plumbing. Same design as ``simhash_near_dups`` (32-bit / 4x8
  blocks) scaled to 64-bit.

Scale: the phash relation is one row per (media, variant) — tiny next
to the store — and candidate generation is an equi-join on a bounded
key, never all-pairs; at 10^12 docs the hash table is a persisted
prep artifact exactly like the near-dup edge table.
"""

from __future__ import annotations

__all__ = ["PHASH_MAX_HAMMING", "image_phash", "phash_near_dups"]

PHASH_MAX_HAMMING = 3
_N_BLOCKS = 4  # 4 x 16-bit blocks: pigeonhole-complete for hamming <= 3


def _phash_row(d):
    import numpy as np

    from paddleocr_spark.corpus import dequantize_map
    from paddleocr_spark.kernels.phash import phash64

    pm = dequantize_map(d["det_map"], int(d["det_h"]), int(d["det_w"]))
    degraded = (np.round(pm * 15.0) / 15.0).astype(np.float32)
    return [(d["media_ref"], variant, phash64(img))
            for variant, img in ((0, pm), (1, degraded))]


def _phash_relation(spark, sf_dir: str):
    import __spark_entry__ as entry_mod
    from paddleocr_spark.functions.udfs import data_rows, map_media_store

    _, media_path = entry_mod.corpus_paths(spark, sf_dir)
    return data_rows(map_media_store(
        spark, media_path, _phash_row,
        "media_ref string, variant long, phash long",
        columns=["media_ref", "det_map", "det_h", "det_w"]))


def image_phash(spark, sf_dir: str):
    from paddleocr_spark.operators._cache import eager_persist

    # the sort's range-partition sampling job fills the cache, so the
    # Python stage runs once, not once more for the sampling
    return (eager_persist(_phash_relation(spark, sf_dir), materialize=False)
            .orderBy("media_ref", "variant"))


def phash_near_dups(spark, sf_dir: str,
                    max_hamming: int = PHASH_MAX_HAMMING):
    from pyspark.sql import functions as F

    from paddleocr_spark.operators._cache import eager_persist

    # materialize=False: the join below is the first consumer and
    # fills the cache (both sides read the same cached relation)
    ph = eager_persist(_phash_relation(spark, sf_dir),
                      materialize=False)
    # 4 x 16-bit blocks; shiftrightunsigned keeps the band extraction
    # sign-safe on the two's-complement bigint
    blocks = ph.select(
        "media_ref", "variant", "phash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned("phash", 16 * i)
                .bitwiseAND(F.lit(0xFFFF)).alias("val"))
            for i in range(_N_BLOCKS)])).alias("band"))
    a = blocks.select(F.col("media_ref").alias("ref_a"),
                      F.col("variant").alias("var_a"),
                      F.col("phash").alias("ph_a"),
                      F.col("band.blk").alias("blk"),
                      F.col("band.val").alias("val"))
    b = blocks.select(F.col("media_ref").alias("ref_b"),
                      F.col("variant").alias("var_b"),
                      F.col("phash").alias("ph_b"),
                      F.col("band.blk").alias("blk"),
                      F.col("band.val").alias("val"))
    cand = (a.join(b, ["blk", "val"])
            .where((F.col("ref_a") < F.col("ref_b"))
                   | ((F.col("ref_a") == F.col("ref_b"))
                      & (F.col("var_a") < F.col("var_b"))))
            .select("ref_a", "var_a", "ref_b", "var_b",
                    "ph_a", "ph_b")
            .distinct())
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (cand.withColumn("hamming", ham.cast("long"))
            .where(F.col("hamming") <= max_hamming)
            .select("ref_a", "var_a", "ref_b", "var_b", "hamming")
            .orderBy("ref_a", "var_a", "ref_b", "var_b"))
