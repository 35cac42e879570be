"""Paired low-res/high-res super-resolution source — the Spark
re-creation of ``LMDBDataSetSR`` (``toddleocr/datasets/lmdb.py:
107-160``).

The reference walks LMDB keys ``image_hr-%09d`` / ``image_lr-%09d`` /
``label-%09d`` per index and filters each label through ``str_filt``
(vocabulary projection: keep only the voc_type's alphabet, lowering
first for "lower"; ``lmdb.py:116-128``) with a max_len=100 drop
(``lmdb.py:131-133`` — the reference's ``except IOError or len(word) >
max_len`` never actually checks the length, a bug; the intent is
implemented here). On Spark the LMDB directory becomes a parquet/
Iceberg table of (idx, image_hr, image_lr, label) rows — the same
shard/index scheme LMDBDataSet maps to (SURVEY §2.1) — and str_filt is
a pure-JVM regexp_replace, so the whole source is one pruned scan +
codegen'd projection; images decode downstream in the usual
mapInArrow stage (kernels/imgcodec), feeding ``sr_metric``.
"""

from __future__ import annotations

__all__ = ["str_filt_col", "read_sr_pairs", "SR_VOC_CLASSES",
           "SR_PAIR_SCHEMA"]

# the SR-pair table's columns, as a parquet path is read
SR_PAIR_SCHEMA = "idx long, image_hr binary, image_lr binary, label string"

# str_filt's alpha_dict as KEEP character classes (Java regex);
# \p{Punct} is exactly string.punctuation for ASCII
SR_VOC_CLASSES = {
    "digit": "0-9",
    "lower": "0-9a-z",
    "upper": "0-9a-zA-Z",
    "all": r"0-9a-zA-Z\p{Punct}",
}


def str_filt_col(col, voc_type: str = "upper"):
    """JVM-side ``str_filt``: drop every char outside the vocabulary;
    "lower" lowercases first (``lmdb.py:123-124``)."""
    from pyspark.sql import functions as F

    if voc_type not in SR_VOC_CLASSES:
        raise ValueError(f"unknown voc_type {voc_type!r}")
    if voc_type == "lower":
        col = F.lower(col)
    return F.regexp_replace(col, f"[^{SR_VOC_CLASSES[voc_type]}]", "")


def read_sr_pairs(spark, source, voc_type: str = "upper",
                  max_len: int = 100):
    """SR-pair table → (idx, image_hr, image_lr, label) with the
    vocab-filtered label. ``source`` is a parquet path or a DataFrame
    with columns (idx, image_hr binary, image_lr binary, label).

    Rows whose RAW label exceeds ``max_len`` drop (the reference's
    intended resample-on-too-long becomes a filter — same policy as
    SimpleDataSet error rows, SURVEY §4); rows whose filtered label is
    empty also drop (nothing for the rec head to supervise)."""
    from pyspark.sql import functions as F

    df = (spark.read.schema(SR_PAIR_SCHEMA).parquet(source)
          if isinstance(source, str) else source)
    return (df
            .where(F.length("label") <= max_len)
            .select("idx", "image_hr", "image_lr",
                    str_filt_col(F.col("label"), voc_type).alias("label"))
            .where(F.length("label") > 0))
