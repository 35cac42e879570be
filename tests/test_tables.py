"""The one table reader and derived-table store (``sources/tables.py``):
the declared schemas are the fixtures' and the derived tables' own, row
counts come from the footers, building a query over either launches no
Spark job, and a derived table is keyed by its sources' files, not by
their directory's basename."""

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
    "curated_corpus", "cosine_topk_bruteforce", "near_dup_pairs",
    "benchmark_contamination", "cosine_topk_ivf_refined",
    "partitioned_events_agg", "sr_pairs_filtered"])
def test_building_a_query_launches_no_job(spark, name):
    query = entry_mod.queries()[name]
    assert _second_build_jobs(spark, f"test_tables_build_{name}",
                              lambda: query(spark, SF)) == 0


def test_reattaching_the_bucketed_pair_launches_no_job(spark):
    """After ``DROP TABLE`` the pair re-attaches with DDL columns from
    ``SCHEMAS``: no footer job."""
    from paddleocr_spark.operators import bucketing

    query = entry_mod.queries()["bucketed_join_agg"]

    def build():
        for t in bucketing.ensure_bucketed_pair(spark, SF):
            spark.sql(f"DROP TABLE {t}")
        query(spark, SF)

    assert _second_build_jobs(spark, "test_tables_build_bucketed",
                              build) == 0


def test_building_pagerank_launches_no_job(spark):
    """N comes from the footers: no count job while the rounds are
    planned (3 rounds take no checkpoint, the third being the last;
    the link graph table already built)."""
    from paddleocr_spark.operators import html_extract

    html_extract.build_link_graph_table(spark, SF)
    assert _second_build_jobs(
        spark, "test_tables_build_pagerank",
        lambda: html_extract.html_pagerank(spark, SF, iters=3)) == 0


def test_derived_table_commits_whole_tables_only(tmp_path, monkeypatch):
    """A failed build leaves nothing; a build that loses the rename race
    serves the winner's table and drops its own; rewriting a source
    re-keys the table."""
    from paddleocr_spark import cachedir
    from paddleocr_spark.sources.tables import derived_dir, derived_table

    monkeypatch.setattr(cachedir, "_ROOT", str(tmp_path / "cache"))
    src = tmp_path / "t.parquet"
    src.write_bytes(b"v1")
    key = ("t", "v1", [str(src)], ("p",))
    out = derived_dir(*key)

    def fails(tmp):
        os.makedirs(tmp)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        derived_table(*key, fails)
    assert os.listdir(os.path.dirname(out)) == []

    def loses(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "mine"), "w").close()
        os.makedirs(out)  # a concurrent build commits first
        open(os.path.join(out, "theirs"), "w").close()

    assert derived_table(*key, loses) == out
    assert os.listdir(os.path.dirname(out)) == [os.path.basename(out)]
    assert os.listdir(out) == ["theirs"]
    src.write_bytes(b"v2, regenerated")
    assert derived_dir(*key) != out


def test_derived_table_evicts_keys_whose_sources_are_gone(
        spark, tmp_path, monkeypatch):
    """A commit records its sources in the key (hidden from Spark's
    file index) and deletes sibling keys whose recorded sources no
    longer exist; a build in flight and a key with no record stay."""
    import json

    from paddleocr_spark import cachedir
    from paddleocr_spark.sources.tables import derived_table

    monkeypatch.setattr(cachedir, "_ROOT", str(tmp_path / "cache"))
    srcs = [tmp_path / f"src{i}.parquet" for i in range(3)]
    for src in srcs:
        src.write_bytes(src.name.encode())

    def build(tmp):
        spark.range(3).write.parquet(tmp)

    a, b = (derived_table("t", "v1", [str(s)], (), build) for s in srcs[:2])
    with open(os.path.join(a, "_sources.json")) as fh:
        assert json.load(fh) == [str(srcs[0])]
    assert spark.read.parquet(a).count() == 3
    parent = os.path.dirname(a)
    for kept in ("v0_norecord", f"{os.path.basename(a)}.tmp-0"):
        os.makedirs(os.path.join(parent, kept))
    assert len(os.listdir(parent)) == 4
    srcs[0].unlink()
    c = derived_table("t", "v1", [str(srcs[2])], (), build)
    assert sorted(os.listdir(parent)) == sorted(
        map(os.path.basename, (b, c, "v0_norecord",
                               f"{os.path.basename(a)}.tmp-0")))


def _bucketed_dirs(spark):
    from paddleocr_spark.operators import bucketing

    return [spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
            .where("col_name = 'Location'").first().data_type
            for t in bucketing.ensure_bucketed_pair(spark, SF)]


def _derived_tables():
    """(id, build -> [(dir, declared DDL)]) for every derived table."""
    from paddleocr_spark.operators import (
        curation,
        dedup,
        html_extract,
        partitioning,
        similarity,
    )
    from paddleocr_spark.sources import lmdb_sr, sr_store

    def ivf(spark):
        idx = similarity.build_ivf_index(spark, SF)
        return [(os.path.join(idx, sub), ddl)
                for sub, ddl in similarity.IVF_SCHEMAS.items()]

    return [
        ("link_graph", lambda spark: [(html_extract.build_link_graph_table(
            spark, SF), html_extract.LINK_GRAPH_SCHEMA)]),
        ("near_dup_edges", lambda spark: [(dedup.build_near_dup_edges(
            spark, SF), dedup.NEAR_DUP_SCHEMA)]),
        ("contam_grams", lambda spark: [(curation.build_gram_table(
            spark, SF), curation.GRAM_SCHEMA)]),
        ("ivf_index", ivf),
        ("partitioned_events", lambda spark: [(
            partitioning.ensure_partitioned_events(spark, SF),
            partitioning.PARTITIONED_EVENTS_SCHEMA)]),
        ("bucketed_pair", lambda spark: list(zip(
            _bucketed_dirs(spark), (SCHEMAS["orders"],
                                    SCHEMAS["lineitem"])))),
        ("sr_pairs", lambda spark: [(os.path.join(
            sr_store.ensure_sr_store(sr_store.cache_root()),
            "pairs.parquet"), lmdb_sr.SR_PAIR_SCHEMA)]),
    ]


@pytest.mark.parametrize("build", [pytest.param(b, id=i)
                                   for i, b in _derived_tables()])
def test_derived_schema_matches_the_built_table(spark, build):
    """Each derived table is read with a declared schema; it must be the
    one its writer leaves in the parquet footers."""
    for path, ddl in build(spark):
        assert (spark.read.schema(ddl).parquet(path).schema
                == spark.read.parquet(path).schema), (path, ddl)


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


def _schemaless_read(node) -> bool:
    """``<x>.read.parquet`` with no ``.schema(...)`` on the way."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            if node.attr == "schema":
                return False
            if node.attr in ("read", "write"):
                return node.attr == "read"
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def test_every_package_parquet_read_declares_its_schema():
    """A schema-less ``spark.read.parquet`` launches a footer job while
    the plan is built: no package read may be one."""
    offenders = []
    for path in glob.glob(f"{ROOT}/paddleocr_spark/**/*.py", recursive=True):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "parquet"
                        and _schemaless_read(node.func.value)):
                    offenders.append(
                        f"{os.path.relpath(path, ROOT)}:{fn.name}")
    assert not offenders, offenders


def test_operators_hand_roll_no_table_store():
    """Keys, markers and commits of derived tables belong to
    ``sources/tables.derived_table``: no operator hashes a path, reads an
    mtime or probes a ``_SUCCESS``/``_DONE`` marker."""
    offenders = []
    for path in glob.glob(f"{ROOT}/paddleocr_spark/operators/*.py"):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            bad = (
                (isinstance(node, ast.Constant) and isinstance(node.value, str)
                 and ("_SUCCESS" in node.value or "_DONE" in node.value))
                or (isinstance(node, ast.Import)
                    and any(a.name == "hashlib" for a in node.names))
                or (isinstance(node, ast.ImportFrom)
                    and node.module == "hashlib")
                or (isinstance(node, ast.Attribute)
                    and node.attr == "getmtime"))
            if bad:
                offenders.append(f"{os.path.relpath(path, ROOT)}:"
                                 f"{node.lineno}")
    assert not offenders, offenders


def _two_corpora(tmp_path) -> tuple[str, str]:
    """``a/sf0.001`` holds the fixture's orders, lineitem and events;
    ``b/sf0.001`` only their even orderkeys and even event ids."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dirs = []
    for corpus, keep in (("a", None), ("b", 2)):
        out = tmp_path / corpus / "sf0.001"
        out.mkdir(parents=True)
        for name, key in (("orders", "o_orderkey"),
                          ("lineitem", "l_orderkey"),
                          ("events", "event_id")):
            t = pq.read_table(f"{SF}/{name}.parquet")
            if keep:
                t = t.filter(pc.equal(pc.bit_wise_and(t[key], 1), 0))
            pq.write_table(t, str(out / f"{name}.parquet"))
        dirs.append(str(out))
    return tuple(dirs)


def test_same_basename_corpora_get_their_own_derived_tables(
        spark, tmp_path, monkeypatch):
    """Two corpora whose directories share the basename ``sf0.001``: in
    one session, with both queries of both corpora built before any
    runs, each one's bucketed join and partitioned-events aggregate
    equal the aggregate over its own raw tables."""
    from pyspark.sql import functions as F

    from paddleocr_spark import cachedir
    from paddleocr_spark.operators import bucketing, partitioning

    monkeypatch.setattr(cachedir, "_ROOT", str(tmp_path / "cache"))
    built = [(sf_dir, bucketing.bucketed_join_agg(spark, sf_dir),
              partitioning.partitioned_events_agg(spark, sf_dir))
             for sf_dir in _two_corpora(tmp_path)]
    results = []
    for sf_dir, got_join, got_events in built:
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        joined = (li.join(o, li.l_orderkey == o.o_orderkey)
                  .groupBy("o_orderpriority")
                  .agg(F.count("*").cast("long").alias("n_items"),
                       F.round(F.sum("l_extendedprice"), 2)
                       .alias("sum_price"),
                       F.countDistinct("o_orderkey").alias("n_orders"))
                  .orderBy("o_orderpriority"))
        events = (load_table(spark, sf_dir, "events")
                  .withColumn("event_day", partitioning.epoch_day())
                  .where(F.col("event_day").between(partitioning.DAY_LO,
                                                    partitioning.DAY_HI))
                  .groupBy("event_day", "event_type")
                  .agg(F.count("*").cast("long").alias("n"),
                       F.round(F.sum("value"), 4).alias("sum_value"))
                  .orderBy("event_day", "event_type"))
        results.append((got_join.collect(), got_events.collect()))
        assert results[-1] == (joined.collect(), events.collect()), sf_dir
    for sf_dir, _, _ in built:
        for t in bucketing.ensure_bucketed_pair(spark, sf_dir):
            spark.sql(f"DROP TABLE {t}")  # its files go with tmp_path
    assert results[0][0] != results[1][0]
    assert results[0][1] != results[1][1]
