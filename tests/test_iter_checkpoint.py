"""The loop driver of iterative jobs (``operators/_cache.iterate``).

localCheckpoint persists blocks on EXECUTORS: on a real cluster one
executor loss after a localCheckpoint kills the lineage with no
recompute path. The checkpoint_dir mode swaps in reliable
``checkpoint()`` — these tests pin that the two modes are
OUTPUT-IDENTICAL and that the reliable mode really writes recovery
state to the directory; then the driver's round cap, that its blocks
are all released, and that no other module checkpoints.
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
    from paddleocr_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (5, 3)],
        "doc_a long, doc_b long")
    cdir = str(tmp_path / "cc_ckpt")
    local = _rows(connected_components(edges))
    assert local == _rows(connected_components(edges, checkpoint_dir=cdir))
    assert local == [(1, 1), (2, 1), (3, 1), (5, 1), (10, 10), (11, 10),
                     (20, 20)]


def test_duplicate_clusters_mode_identical(spark, tmp_path):
    from paddleocr_spark.operators.dedup import duplicate_clusters

    local = _rows(duplicate_clusters(spark, SF))
    durable = _rows(duplicate_clusters(
        spark, SF, checkpoint_dir=str(tmp_path / "dup_ckpt")))
    assert local == durable


def _path(spark, n_edges: int):
    return spark.createDataFrame([(i, i + 1) for i in range(n_edges)],
                                 "doc_a long, doc_b long")


def test_round_cap_raises(spark):
    """A loop that needs more rounds than its cap raises the loop
    driver's error, naming the loop, instead of returning a partial
    labelling."""
    from paddleocr_spark.operators._cache import release
    from paddleocr_spark.operators.graph import connected_components

    # the loop needs 6 rounds on this path
    with pytest.raises(RuntimeError, match="no fixpoint in 3 rounds"):
        connected_components(_path(spark, 32), max_iters=3)
    release(spark)


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_release_leaves_no_persistent_rdd(spark):
    """Every block a fixpoint loop caches or checkpoints is tracked:
    after the result is collected, release(spark) leaves no persisted
    RDD behind."""
    from paddleocr_spark.operators._cache import release
    from paddleocr_spark.operators.graph import connected_components

    release(spark)
    before = _persistent_rdds(spark)
    connected_components(_path(spark, 6)).collect()
    assert _persistent_rdds(spark) - before
    release(spark)
    assert not _persistent_rdds(spark) - before


def test_failed_first_action_releases_checkpoint_blocks(spark):
    """A lazy localCheckpoint whose first action fails is never marked
    checkpointed, but the partitions computed before the failure hold
    blocks: releasing it must drop them all the same."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators._cache import release_one

    boom = spark.range(0, 400, 1, 4).select(
        F.when(F.col("id") == 399, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("id"))
    before = _persistent_rdds(spark)
    ckpt = boom.localCheckpoint(eager=False)
    with pytest.raises(Exception, match="boom"):
        ckpt.count()
    rdd = ckpt._jdf.queryExecution().logical().rdd()
    assert not rdd.isCheckpointed()
    assert rdd.id() in _persistent_rdds(spark) - before
    release_one(ckpt)
    assert not _persistent_rdds(spark) - before


def test_only_the_loop_driver_checkpoints():
    """No module but operators/_cache.py checkpoints a DataFrame or
    owns a fixpoint loop: every iterative job goes through
    ``_cache.iterate``."""
    import ast
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    offenders = []
    for path in glob.glob(f"{root}/paddleocr_spark/**/*.py",
                          recursive=True):
        if path.endswith(os.path.join("operators", "_cache.py")):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            func = node.func if isinstance(node, ast.Call) else None
            name = getattr(func, "attr", getattr(func, "id", None))
            if (name in ("localCheckpoint", "checkpoint", "checkpointer")
                    or (isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and "no fixpoint" in node.value)):
                offenders.append(f"{os.path.relpath(path, root)}:"
                                 f"{node.lineno}")
    assert not offenders, offenders
