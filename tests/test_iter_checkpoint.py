"""Reliable-checkpoint mode for iterative jobs
(``operators/_cache.checkpointer``).

localCheckpoint persists blocks on EXECUTORS: on a real cluster one
executor loss after an eager localCheckpoint kills the lineage with no
recompute path. The checkpoint_dir mode swaps in reliable
``checkpoint()`` — these tests pin that the two modes are
OUTPUT-IDENTICAL and that the reliable mode really writes recovery
state to the directory.
"""

import os

import pytest
from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pagerank_modes_identical(spark, tmp_path):
    from paddleocr_spark.operators.html_extract import html_pagerank

    local = _rows(html_pagerank(spark, SF, iters=4))
    cdir = str(tmp_path / "pr_ckpt")
    durable = _rows(html_pagerank(spark, SF, iters=4,
                                  checkpoint_dir=cdir))
    assert local == durable and len(local) > 0
    # reliable mode actually wrote recovery state
    walked = [f for _, _, fs in os.walk(cdir) for f in fs]
    assert walked, "no reliable checkpoint files written"


def test_connected_components_modes_identical(spark, tmp_path):
    from paddleocr_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (5, 3)],
        "doc_a long, doc_b long")
    cdir = str(tmp_path / "cc_ckpt")
    assert _rows(connected_components(edges)) == _rows(
        connected_components(edges, checkpoint_dir=cdir))
    assert _rows(connected_components_star(edges)) == _rows(
        connected_components_star(
            edges, checkpoint_dir=str(tmp_path / "cc_star")))


def test_duplicate_clusters_mode_identical(spark, tmp_path):
    from paddleocr_spark.operators.dedup import duplicate_clusters

    local = _rows(duplicate_clusters(spark, SF))
    durable = _rows(duplicate_clusters(
        spark, SF, checkpoint_dir=str(tmp_path / "dup_ckpt")))
    assert local == durable
