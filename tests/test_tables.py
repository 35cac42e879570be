"""The one table reader (``sources/tables.py``): the declared schemas are
the fixtures' own, row counts come from the footers, and building a
query over the fixture tables launches no Spark job."""

import ast
import glob
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod
from paddleocr_spark.sources.tables import (
    SCHEMAS,
    TABLES,
    load_table,
    table_rows,
)

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_the_fixture_footers(spark, sf):
    """A fixture that drifts from its declared schema fails here, not as
    nulls or a cast error deep inside a query."""
    sf_dir = f"/root/testdata/{sf}"
    assert sorted(TABLES) == sorted(
        os.path.basename(p)[:-len(".parquet")]
        for p in glob.glob(f"{sf_dir}/*.parquet"))
    for name in TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert load_table(spark, sf_dir, name).schema == inferred, (
            name, SCHEMAS[name], inferred.simpleString())


def test_table_rows_counts_files_and_directories(spark, tmp_path):
    """One parquet file, a directory of part files, and an empty
    directory table all count from their footers as Spark counts them."""
    for name in TABLES:
        assert table_rows(SF, name) == load_table(spark, SF, name).count()
    docs = load_table(spark, SF, "documents")
    many, empty = str(tmp_path / "many"), str(tmp_path / "empty")
    docs.repartition(3).write.parquet(f"{many}/documents.parquet")
    docs.limit(0).write.parquet(f"{empty}/documents.parquet")
    assert table_rows(many, "documents") == docs.count()
    assert table_rows(empty, "documents") == 0
    with pytest.raises(OSError):
        table_rows(str(tmp_path / "missing"), "documents")


def _second_build_jobs(spark, group: str, build) -> int:
    """Spark jobs launched by building (not running) a DataFrame a
    second time; the first build may fill on-disk caches."""
    from paddleocr_spark.operators._cache import release

    build()
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release(spark)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", [
    "revenue_by_region", "pricing_summary", "event_sessions",
    "clean_boilerplate", "html_main_content", "det_polygons",
    "curated_corpus", "cosine_topk_bruteforce", "near_dup_pairs"])
def test_building_a_query_launches_no_job(spark, name):
    query = entry_mod.queries()[name]
    assert _second_build_jobs(spark, f"test_tables_build_{name}",
                              lambda: query(spark, SF)) == 0


def test_building_pagerank_launches_no_job(spark):
    """N comes from the footers: no count job while the rounds are
    planned (3 rounds take no checkpoint, the third being the last;
    the link graph table already built)."""
    from paddleocr_spark.operators import html_extract

    html_extract.build_link_graph_table(spark, SF)
    assert _second_build_jobs(
        spark, "test_tables_build_pagerank",
        lambda: html_extract.html_pagerank(spark, SF, iters=3)) == 0


def test_near_dup_schema_matches_the_built_table(spark):
    """The near-dup edge table is read with a declared schema; it must
    be the one its writer leaves in the parquet footers."""
    from paddleocr_spark.operators import dedup

    out = dedup.build_near_dup_edges(spark, SF)
    assert (dedup.near_dup_pairs(spark, SF).schema
            == spark.read.parquet(out).schema)


def _sf_paths(tree) -> set:
    """Names bound anywhere in the module to a path under the sf dir."""
    bound = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and _is_sf_path(node.value, set()):
            bound |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    return bound


def _is_sf_path(node, bound) -> bool:
    sf_names = {"sf_dir", "SF_DIR"}
    if isinstance(node, ast.Name):
        return node.id in bound
    if isinstance(node, ast.JoinedStr):  # f"{sf_dir}/..."
        first = node.values[0] if node.values else None
        return (isinstance(first, ast.FormattedValue)
                and isinstance(first.value, ast.Name)
                and first.value.id in sf_names)
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "join" and node.args):  # os.path.join
        return (isinstance(node.args[0], ast.Name)
                and node.args[0].id in sf_names)
    return False


def _is_spark_read(node) -> bool:
    """``<x>.read[.schema(...)...].parquet`` (a DataFrameReader call,
    not the writer of a DataFrame that was read)."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr in ("read", "write"):
            return node.attr == "read"
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def test_fixture_tables_are_read_only_through_load_table():
    files = [p for p in glob.glob(f"{ROOT}/paddleocr_spark/**/*.py",
                                  recursive=True)
             if not p.endswith(os.path.join("sources", "tables.py"))]
    files += [f"{ROOT}/__spark_entry__.py", f"{ROOT}/bench.py"]
    offenders = []
    for path in files:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        bound = _sf_paths(tree)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and _is_spark_read(node.func.value) and node.args
                    and _is_sf_path(node.args[0], bound)):
                offenders.append(f"{os.path.relpath(path, ROOT)}:"
                                 f"{node.lineno}")
    assert not offenders, offenders
