"""Corpus-level metric jobs: on a bit-exact pipeline every metric must
come out perfect (acc=1, hmean=1) — a second, independent verification
path (IoU geometry / token equality) beside span-sequence equality."""

import pytest

import __spark_entry__ as entry_mod
from paddleocr_spark.corpus import media_schema
from paddleocr_spark.functions.udfs import decode_media_store
from paddleocr_spark.operators import metrics

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def store(spark):
    _, path = entry_mod.corpus_paths(spark, SF, n_docs=80)
    return path


@pytest.fixture(scope="module")
def media_and_fragments(spark, store):
    return (spark.read.schema(media_schema()).parquet(store),
            decode_media_store(spark, store))


def test_corpus_rec_metric_perfect(spark, media_and_fragments):
    row = metrics.corpus_rec_metric(*media_and_fragments).collect()[0]
    assert row.all_num > 0
    # only rows dropped by DROP_SCORE/empty-text may miss; the rest
    # must match exactly
    assert row.acc >= 0.99, row
    assert row.norm_edit_dis >= 0.99


def test_det_iou_metric_perfect(spark, store):
    row = metrics.det_iou_metric(store).collect()[0]
    assert row.gt_total > 0
    assert row.precision == 1.0 and row.recall == 1.0 and row.hmean == 1.0


def test_table_structure_metric_perfect(spark, media_and_fragments):
    row = metrics.table_structure_metric(*media_and_fragments).collect()[0]
    assert row.all_num > 0
    assert row.acc == 1.0


def test_prf_from_join_disjoint_sets_yield_zero_not_null(spark):
    """Zero matched pairs must produce precision = recall = 0.0 (the
    reference's zero-division guard), never NULL: sum(in_pred * in_gt)
    over a full-outer join with NO matched rows is NULL and must be
    coalesced BEFORE the ratios."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators.kie import _prf_from_join

    pred = spark.createDataFrame([("a", 1)], "k string, in_pred int")
    gt = spark.createDataFrame([("b", 1)], "k string, in_gt int")
    row = _prf_from_join(F, pred.join(gt, ["k"], "full")).collect()[0]
    assert (row.tp, row.n_pred, row.n_gt) == (0, 1, 1)
    assert row.precision == 0.0 and row.recall == 0.0 and row.hmean == 0.0

    # and fully-empty input (no rows at all on either side)
    empty = spark.createDataFrame([], "k string, in_pred int")
    empty_gt = spark.createDataFrame([], "k string, in_gt int")
    row = _prf_from_join(F, empty.join(empty_gt, ["k"], "full")).collect()[0]
    assert (row.tp, row.n_pred, row.n_gt) == (0, 0, 0)
    assert row.precision == 0.0 and row.recall == 0.0 and row.hmean == 0.0
