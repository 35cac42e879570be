"""Plan-quality gates: the properties that decide whether these jobs
survive a 100× scale-up, asserted on the actual physical plans."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from paddleocr_spark.operators import relational, text
from tests.plan_inspect import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregate,
    has_sort_merge_join,
    pushed_filters,
    scan_read_schema,
    wholestage_codegen_spans,
)

SF = "/root/testdata/sf0.001"


def test_clean_boilerplate_prunes_columns(spark):
    """The documents scan must read only doc_id + text — not lang/
    source/n_chars."""
    df = text.clean_documents(spark, SF)
    schemas = scan_read_schema(df)
    assert schemas, "no parquet scan found"
    assert set(schemas[0]) == {"doc_id", "text"}


def test_pricing_summary_pushdown_and_partial_agg(spark):
    df = relational.pricing_summary(spark, SF)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters
    assert has_partial_aggregate(df)
    schemas = scan_read_schema(df)
    assert all("l_partkey" not in s for s in schemas)  # pruned


def test_revenue_by_region_all_broadcast(spark):
    """The star join hints only the TRUE dimensions (region/nation);
    at this sf the size-based planner broadcasts the small fact sides
    too — no sort-merge join, and the only shuffle is the final
    aggregation. At larger sf the fact joins are allowed to shuffle
    (forcing them broadcast was the bug)."""
    df = relational.revenue_by_region(spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)
    assert count_exchanges(df) <= 2  # partial->final agg (+AQE read)


def test_extract_shuffle_budget(spark):
    """Flagship extract: fragments join + final per-doc window; the
    fat tensor columns must not appear past the decode stage."""
    from paddleocr_spark.corpus import docs_schema
    from paddleocr_spark.operators.extract import extract_spans

    docs_path, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    df = extract_spans(spark.read.schema(docs_schema()).parquet(docs_path),
                       media_path)
    import re

    plan = formatted_plan(df)
    # the per-doc window must consume only small string columns — the
    # fat tensor columns (det_map, rec_logits) stop at the decode UDF
    m = re.search(r"^\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", plan,
                  re.MULTILINE)
    assert m, "no Window node found"
    window_inputs = m.group(1)
    assert "det_map" not in window_inputs
    assert "rec_logits" not in window_inputs
    # shuffles: media distinct-refs side, join, window partition —
    # bounded, not data-dependent
    assert count_exchanges(df) <= 5


def test_media_store_planning_from_manifest(spark, monkeypatch):
    """Store decode must plan from the manifest TABLE, not a driver-side
    file glob — the self-managed Iceberg-manifest stand-in. The store's
    fat data files must NOT appear as a Catalyst FileScan (they are read
    executor-side via pyarrow pointer passing)."""
    import os as _os
    import re

    from paddleocr_spark.functions import udfs

    _, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    assert _os.path.exists(_os.path.join(udfs.manifest_path(media_path),
                                         "_SUCCESS"))

    def no_glob(path):
        raise AssertionError(f"store {path} was globbed at plan time")

    monkeypatch.setattr(udfs, "_list_files", no_glob)
    plan = formatted_plan(udfs.decode_media_store(spark, media_path))
    media_dir = _os.path.basename(media_path.rstrip("/"))
    for loc in re.findall(r"Location: \S+ \[([^\]]*)\]", plan):
        assert not re.search(rf"/{re.escape(media_dir)}(,|$)", loc), plan


def test_manifest_packing_has_no_global_file_window(spark):
    """Store decode plans with no Window and no Exchange at all: the
    byte packing happens on the driver and the decode reads a
    JVM-only relation with one partition per group."""
    from paddleocr_spark.functions.udfs import decode_media_store

    _, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    df = decode_media_store(spark, media_path)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert count_exchanges(df) == 0, plan


def test_store_decode_is_one_task_per_core_in_two_jobs(spark):
    """The whole store decode — manifest read, planning and the decode
    action — runs exactly 1 Spark job (the manifest is read on the
    driver), and the decode stage runs exactly min(#files,
    defaultParallelism) tasks. A manifest read through Spark, a
    range-partition sampling job, or a Python-RDD conversion of the
    file list, fails this."""
    from paddleocr_spark.functions.udfs import (
        _store_files,
        decode_media_store,
    )

    _, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    sc = spark.sparkContext
    group = "test_store_decode_jobs"
    sc.setJobGroup(group, group)
    try:
        decode_media_store(spark, media_path).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    last = max(jobs)
    tasks = [tracker.getStageInfo(s).numTasks
             for s in tracker.getJobInfo(last).stageIds]
    want = min(len(_store_files(media_path)), sc.defaultParallelism)
    assert tasks == [want], tasks


def _python_nodes(plan, parent=None):
    """(MapInArrow node, name of the node reading its output) of an
    executed physical plan, cached plans and AQE query stages included
    (the wrappers are looked through, not named as the reader)."""
    name = plan.nodeName()
    if name == "MapInArrow":
        yield plan, parent
    kids = [plan.children().apply(i) for i in range(plan.children().size())]
    wrapper = name == "AdaptiveSparkPlan" or name.endswith("QueryStage")
    if name == "AdaptiveSparkPlan":
        kids.append(plan.executedPlan())
    elif name.endswith("QueryStage"):
        kids.append(plan.plan())
    elif name == "InMemoryTableScan":
        kids.append(plan.relation().cachedPlan())
    for kid in kids:
        yield from _python_nodes(kid, parent if wrapper else name)


def test_det_polygons_runs_its_python_stage_once_per_core(spark):
    """det_polygons splits the map ids one partition per core with no
    shuffle, and the sort after the Python stage reads its persisted
    output: the stage runs exactly once, with min(n_maps,
    defaultParallelism) tasks (the Python side receives each output
    row once)."""
    from paddleocr_spark.corpus import poly_map_count
    from paddleocr_spark.operators._cache import release
    from paddleocr_spark.operators.det_poly import det_polygons
    from paddleocr_spark.sources.tables import table_rows

    df = det_polygons(spark, SF)
    try:
        assert "RoundRobinPartitioning" not in formatted_plan(df)
        n_rows = len(df.collect())
        nodes = [n for n, _ in
                 _python_nodes(df._jdf.queryExecution().executedPlan())]
        assert len(nodes) == 1
        received = nodes[0].metrics().apply("pythonNumRowsReceived").value()
        assert received == n_rows > 0
        n_maps = poly_map_count(table_rows(SF, "documents"))
        assert (nodes[0].execute().getNumPartitions()
                == min(n_maps, spark.sparkContext.defaultParallelism))
    finally:
        release(spark)


def test_manifest_packing_is_byte_balanced(spark):
    """Task packing from the manifest must track BYTES: no task's byte
    total may exceed 2x the ideal share plus one file (the worst case
    of contiguous range packing)."""
    import os as _os

    from pyspark.sql import functions as F

    from paddleocr_spark.functions.udfs import _groups_df, _store_files

    _, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    files_df = _groups_df(spark, _store_files(media_path), n_tasks=4)
    rows = (files_df.select(F.spark_partition_id().alias("pid"), "path")
            .collect())
    by_task: dict[int, int] = {}
    for r in rows:
        by_task[r.pid] = by_task.get(r.pid, 0) + _os.path.getsize(r.path)
    tot = sum(by_task.values())
    max_file = max(_os.path.getsize(r.path) for r in rows)
    assert max(by_task.values()) <= tot / 4 * 2 + max_file, by_task


def test_skewed_store_packs_within_share_plus_largest_file(spark,
                                                          tmp_path):
    """A store with one file ~10x the others, with and without a
    manifest (both go through the same packer): no group's bytes exceed
    the ideal share plus the largest file."""
    import os as _os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from paddleocr_spark.functions.udfs import (
        _groups_df,
        _store_files,
        write_store_manifest,
    )

    rng = np.random.default_rng(7)
    for name, kind in (("plain", None), ("manifested", "manifest")):
        store = tmp_path / name
        store.mkdir()
        for i in range(12):
            n = 200_000 if i == 5 else 20_000  # incompressible bytes
            blob = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
            pq.write_table(pa.table({"b": [blob]}),
                           store / f"part-{i:05d}.parquet",
                           compression="none")
        if kind:
            write_store_manifest(spark, str(store))
        rows = (_groups_df(spark, _store_files(str(store)), n_tasks=4)
                .select(F.spark_partition_id().alias("pid"), "path")
                .collect())
        assert len(rows) == 12
        sizes = {r.path: _os.path.getsize(r.path) for r in rows}
        by_task: dict[int, int] = {}
        for r in rows:
            by_task[r.pid] = by_task.get(r.pid, 0) + sizes[r.path]
        assert len(by_task) == 4, by_task
        share = sum(sizes.values()) / 4
        assert max(by_task.values()) <= share + max(sizes.values()), \
            (kind, by_task)


def test_bm25_plan_shape(spark):
    """BM25: query terms and corpus stats broadcast (no shuffled join
    for the tiny sides), no CartesianProduct, the documents scan reads
    only doc_id + text — and there is exactly ONE parquet scan of
    documents (stats ride the sentinel rows through the cached grouped
    relation; the naive form tokenizes the corpus twice)."""
    import re

    from paddleocr_spark.operators.retrieval import bm25_topk

    df = bm25_topk(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)
    schemas = scan_read_schema(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 1, plan
    for s in schemas:
        assert set(s) <= {"doc_id", "text"}, s


def test_bm25_topk_writes_no_trail_for_any_corpus_path(spark, tmp_path):
    """The corpus path never switches extra work: under a directory
    named like the correctness scale the rows are the same and no
    debug trail is written, neither in the repo nor near the corpus."""
    import shutil

    from paddleocr_spark.operators.retrieval import bm25_topk

    sf = tmp_path / "sf0.01"
    sf.mkdir()
    shutil.copy(os.path.join(SF, "documents.parquet"), sf)
    rows = bm25_topk(spark, str(sf)).collect()
    assert rows and rows == bm25_topk(spark, SF).collect()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert not os.path.exists(
        os.path.join(repo, "spark-warehouse", "bm25_debug"))
    assert not list(tmp_path.rglob("bm25_debug"))


def test_manifest_planned_decode_matches_glob_planned_decode(spark,
                                                             monkeypatch):
    """Store decode planned from the manifest table produces the same
    fragments as the same store planned from a file glob (the planner
    for stores that never wrote a manifest)."""
    from paddleocr_spark.functions import udfs

    _, media_path = entry_mod.corpus_paths(spark, SF, n_docs=50)
    key = lambda r: (r["media_ref"], r["frag_idx"], r["box_idx"])
    decode = lambda: sorted((r.asDict() for r in udfs.decode_media_store(
        spark, media_path).collect()), key=key)
    manifested = decode()
    monkeypatch.setattr(udfs, "manifest_path", lambda p: p + "_absent")
    globbed = decode()
    assert manifested and manifested == globbed


@pytest.mark.parametrize("query", [
    "extract_media_fragments", "det_iou_metric", "sr_metric", "can_metric",
    "e2e_metric", "ct_metric", "table_master_html", "image_phash"])
def test_media_query_runs_one_python_stage(spark, query):
    """Every media query reads the store through ONE Python stage with
    one task per byte-balanced file group, min(#store files,
    defaultParallelism), and no shuffle reads the Python output
    directly (a sort's range-partition sampling over it would run the
    stage twice)."""
    from paddleocr_spark.functions.udfs import _store_files
    from paddleocr_spark.operators._cache import release

    _, media_path = entry_mod.corpus_paths(spark, SF)
    df = entry_mod.queries()[query](spark, SF)
    try:
        assert df.collect()
        nodes = list(_python_nodes(df._jdf.queryExecution().executedPlan()))
        assert len(nodes) == 1, nodes
        node, reader = nodes[0]
        assert reader != "Exchange", query
        assert node.execute().getNumPartitions() == min(
            len(_store_files(media_path)),
            spark.sparkContext.defaultParallelism)
    finally:
        release(spark)


def test_simhash_single_aggregation_pass(spark):
    """The simhash rewrite must be one map-side-combinable groupBy: no
    bit-explode row amplification, at most the agg exchange."""
    from paddleocr_spark.operators import dedup

    df = dedup.simhash32(spark, SF)
    plan = formatted_plan(df)
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_pairs_never_cartesian(spark):
    """Banded LSH candidates must be an equi-join on (band, band_hash),
    never an all-pairs product."""
    from paddleocr_spark.operators import dedup, similarity

    for df in (dedup.lsh_candidate_pairs(spark, SF),
               similarity.embedding_near_dups(spark, SF)):
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_block_join_never_cartesian(spark):
    """SimHash hamming pairs must come from the (block, value)
    equi-join — the brute-force O(N²) hamming product lives only in
    the DuckDB oracle."""
    from paddleocr_spark.operators import dedup

    plan = formatted_plan(dedup.simhash_near_dups(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_is_shuffle_free(spark):
    """Co-located layout: both sides bucketed on the join key must
    sort-merge join with ZERO Exchange before the aggregation — the
    once-at-write shuffle is the whole point of the layout. Broadcast
    is disabled so the test proves the bucketing, not the small-table
    escape hatch; the raw-parquet control join must need exchanges."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators import bucketing

    orders_t, lineitem_t = bucketing.ensure_bucketed_pair(spark, SF)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, li = spark.table(orders_t), spark.table(lineitem_t)
        joined = li.join(o, li.l_orderkey == o.o_orderkey) \
                   .select("o_orderpriority", "l_extendedprice")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # bucket-co-located: no shuffle

        ro = spark.read.parquet(f"{SF}/orders.parquet")
        rli = spark.read.parquet(f"{SF}/lineitem.parquet")
        control = rli.join(ro, rli.l_orderkey == ro.o_orderkey) \
                     .select("o_orderpriority", "l_extendedprice")
        assert "Exchange" in formatted_plan(control)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_join_agg_matches_raw_join(spark):
    """Layout changes the plan, never the values."""
    from paddleocr_spark.operators import bucketing

    got = bucketing.bucketed_join_agg(spark, SF).collect()
    from pyspark.sql import functions as F

    ro = spark.read.parquet(f"{SF}/orders.parquet")
    rli = spark.read.parquet(f"{SF}/lineitem.parquet")
    exp = (rli.join(ro, rli.l_orderkey == ro.o_orderkey)
           .groupBy("o_orderpriority")
           .agg(F.count("*").cast("long").alias("n_items"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
                F.countDistinct("o_orderkey").alias("n_orders"))
           .orderBy("o_orderpriority")).collect()
    assert got == exp and len(got) >= 2


def test_bucketed_reattach_preserves_mapping_and_plan(spark):
    """Write-once production shape: dropping the catalog entries and
    re-attaching the SAME files via DDL must keep the join both
    shuffle-free and value-identical (a wrong bucket-id <-> file
    mapping would silently drop join rows)."""
    from paddleocr_spark.operators import bucketing

    orders_t, lineitem_t = bucketing.ensure_bucketed_pair(spark, SF)
    before = sorted(map(tuple,
                        bucketing.bucketed_join_agg(spark, SF).collect()))
    for t in (orders_t, lineitem_t):
        spark.sql(f"DROP TABLE {t}")
    reattached = bucketing.ensure_bucketed_pair(spark, SF)
    assert reattached == (orders_t, lineitem_t)
    after = sorted(map(tuple,
                       bucketing.bucketed_join_agg(spark, SF).collect()))
    assert after == before
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, li = spark.table(orders_t), spark.table(lineitem_t)
        plan = formatted_plan(
            li.join(o, li.l_orderkey == o.o_orderkey)
              .select("o_orderpriority", "l_extendedprice"))
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_partitioned_scan_prunes_at_planning_time(spark):
    """The day window must land in the scan's PartitionFilters
    (planning-time directory elimination), and only the 10 in-window
    day partitions of 30 may survive into the scan's file listing."""
    import re

    from pyspark.sql import functions as F

    from paddleocr_spark.operators import partitioning

    path = partitioning.ensure_partitioned_events(spark, SF)
    ev = spark.read.parquet(path)
    pruned = ev.where(F.col("event_day").between(
        partitioning.DAY_LO, partitioning.DAY_HI))
    plan = formatted_plan(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_day" in m.group(1), plan
    # behavioral proof: the files the scan actually touches cover
    # exactly the 10 in-window day directories (inputFiles() reports
    # the relation's full listing, so probe the executed scan instead)
    touched = lambda df: {
        int(re.search(r"event_day=(\d+)", r[0]).group(1))
        for r in df.select(F.input_file_name()).distinct().collect()}
    assert touched(pruned) == set(range(partitioning.DAY_LO,
                                        partitioning.DAY_HI + 1))
    assert len(touched(ev)) == 30


def test_codegen_spans_exist(spark):
    """AQE defers codegen compilation, so probe with AQE off."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = relational.pricing_summary(spark, SF)
        assert wholestage_codegen_spans(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_html_pipeline_prunes_columns(spark):
    """The HTML construction must read only doc_id + text from the
    documents scan — a page builder that drags lang/source/n_chars
    through the Arrow stage reads 2x the bytes for nothing."""
    from paddleocr_spark.operators import html_extract

    df = html_extract.html_main_content(spark, SF)
    schemas = scan_read_schema(df)
    assert schemas, "no parquet scan found"
    assert all(set(s) <= {"doc_id", "text"} for s in schemas), schemas


def test_pagerank_no_cartesian_beyond_count_broadcast(spark):
    """Each PageRank round must be one equi-join + one map-side-
    combinable sum. The corpus count is inlined as a literal, so no
    nested-loop join of any kind is left in the plan (the name is
    kept from when the one-row count was broadcast)."""
    from paddleocr_spark.operators import html_extract

    df = html_extract.html_pagerank(spark, SF, iters=2)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert has_partial_aggregate(df)


def _pagerank_jobs(spark, iters: int) -> int:
    from paddleocr_spark.operators import html_extract

    sc = spark.sparkContext
    group = f"test_pagerank_jobs_{iters}"
    sc.setJobGroup(group, group)
    try:
        html_extract.html_pagerank(spark, SF, iters=iters).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pagerank_job_budget_per_round(spark):
    """At most 2 Spark jobs per extra PageRank round (the sum's shuffle
    stage and the broadcast of the ranks it joins), counted through the
    status tracker on a built link-graph table."""
    from paddleocr_spark.operators import html_extract

    html_extract.build_link_graph_table(spark, SF)
    one = _pagerank_jobs(spark, 1)
    three = _pagerank_jobs(spark, 3)
    assert three - one <= 4, (one, three)


def _path_loop_jobs(spark, n_edges: int) -> tuple[int, int]:
    """(Spark jobs, rounds) of the connected-components loop, built and
    collected, over the path 0 - 1 - ... - n_edges."""
    from paddleocr_spark.operators import graph
    from paddleocr_spark.operators._cache import release

    edges = spark.createDataFrame([(i, i + 1) for i in range(n_edges)],
                                  "doc_a long, doc_b long")
    sc = spark.sparkContext
    group = f"test_cc_jobs_{n_edges}"
    sc.setJobGroup(group, group)
    try:
        labels, rounds = graph._star(edges, "doc_a", "doc_b")
        labels.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release(spark)
    return len(sc.statusTracker().getJobIdsForGroup(group)), rounds


def test_convergence_loop_job_budget_per_round(spark):
    """A fixpoint round is its step's shuffle stages plus ONE action,
    the convergence count, which also materializes the round's lazy
    checkpoint: no eager-checkpoint count and no second job against
    the previous round. At most 5 jobs per round (three exchanges, and
    under AQE the count is two jobs)."""
    jobs0, rounds0 = _path_loop_jobs(spark, 2)
    jobs1, rounds1 = _path_loop_jobs(spark, 32)
    assert rounds1 > rounds0, (rounds0, rounds1)
    assert jobs1 - jobs0 <= 5 * (rounds1 - rounds0), (
        jobs0, rounds0, jobs1, rounds1)


@pytest.mark.parametrize("query", ["duplicate_clusters",
                                   "fuzzy_dedup_survivors"])
def test_dedup_query_job_budget(spark, query):
    """Warm, each connected-components query runs at most 14 Spark jobs
    at sf0.001, counted through the status tracker: the star loop's
    rounds must not cost more jobs than min-label propagation's did."""
    from paddleocr_spark.operators import dedup
    from paddleocr_spark.operators._cache import release

    fn = getattr(dedup, query)
    fn(spark, SF).collect()
    release(spark)
    sc = spark.sparkContext
    group = f"test_dedup_jobs_{query}"
    sc.setJobGroup(group, group)
    try:
        fn(spark, SF).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release(spark)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 14, jobs


def test_pagerank_reads_documents_once_in_plan(spark):
    """The documents table is read once per call whatever the round
    count: in the plan, by the join after the last round that keeps
    pages without in-links (N comes from the parquet footers)."""
    import re

    from paddleocr_spark.operators import html_extract

    for iters in (1, 3, 5):
        plan = formatted_plan(html_extract.html_pagerank(
            spark, SF, iters=iters))
        scans = re.findall(r"Location: \S+ \[[^\]]*documents\.parquet",
                           plan)
        assert len(scans) == 1, (iters, len(scans))


def test_link_graph_table_carries_outdegree(spark, tmp_path, monkeypatch):
    """The link-graph table is exactly (src, dst, deg), deg being the
    distinct-edge count of src; and it lives under a key no two-column
    v1 table can occupy, so a stale table is never served."""
    from pyspark.sql import functions as F

    from paddleocr_spark import cachedir
    from paddleocr_spark.operators import html_extract
    from paddleocr_spark.sources.tables import derived_dir

    monkeypatch.setattr(cachedir, "_ROOT", str(tmp_path))
    source = [f"{SF}/documents.parquet"]
    key, stale = (derived_dir("link_graph", v, source,
                              html_extract.LINK_COEFFS)
                  for v in ("v2", "v1"))
    assert stale != key
    spark.createDataFrame([(0, 1)], "src long, dst long") \
        .write.parquet(stale)

    out = html_extract.build_link_graph_table(spark, SF)
    assert out == key
    table = spark.read.parquet(out)
    assert table.columns == ["src", "dst", "deg"]
    assert dict(table.dtypes)["deg"] == "bigint"
    want = (html_extract.html_link_graph(spark, SF)
            .groupBy("src").agg(F.count("*").alias("deg")))
    got = table.select("src", "deg").distinct()
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert table.count() == html_extract.html_link_graph(spark, SF).count()


def test_bucket_count_mismatch_refused(spark, tmp_path):
    """Re-attaching bucketed files with a different bucket count must
    raise — a mismatched declaration silently drops join rows."""
    import pytest

    from paddleocr_spark.operators.bucketing import (
        register_bucketed,
        write_bucketed,
    )

    df = spark.range(100).withColumnRenamed("id", "k")
    path = str(tmp_path / "b")
    write_bucketed(df, "bspec_t1", path, "k", n_buckets=8)
    spark.sql("DROP TABLE IF EXISTS bspec_t1")
    with pytest.raises(ValueError, match="8 buckets"):
        register_bucketed(spark, "bspec_t2", path, "k", "k long",
                          n_buckets=4)
    # wrong clustering key: the files were hashed on k, so declaring
    # CLUSTERED BY (v) would silently join against the wrong buckets
    df2 = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    path2 = str(tmp_path / "b2")
    write_bucketed(df2, "bspec_t4", path2, "k", n_buckets=8)
    spark.sql("DROP TABLE IF EXISTS bspec_t4")
    with pytest.raises(ValueError, match="hashed on"):
        register_bucketed(spark, "bspec_t5", path2, "v", "k long, v long",
                          n_buckets=8)
    register_bucketed(spark, "bspec_t3", path, "k", "k long", n_buckets=8)
    assert spark.table("bspec_t3").count() == 100
    # unsorted write -> the DDL must NOT claim SORTED BY
    ddl = spark.sql("SHOW CREATE TABLE bspec_t3").collect()[0][0]
    assert "SORTED BY" not in ddl, ddl
    spark.sql("DROP TABLE IF EXISTS bspec_t3")
    spark.sql("DROP TABLE IF EXISTS bspec_t5")


def _n_crossings(df):
    # count node DETAIL headers — the formatted plan prints each node
    # once in the tree and once in the detail section
    import re

    return len(re.findall(r"^\(\d+\) MapInArrow", formatted_plan(df),
                          re.MULTILINE))


@pytest.mark.parametrize("query", [
    "pdf_text_runs", "audio_features", "video_frames",
    "paged_store_pages"])
def test_file_query_single_python_crossing(spark, query):
    """Each file consumer reads its files by path in ONE Python crossing
    (the shared file loop: split, decode and quarantine in one body)
    with no shuffle — no binaryFile scan feeding a second UDF."""
    df = entry_mod.queries()[query](spark, SF)
    assert _n_crossings(df) == 1, formatted_plan(df)
    assert count_exchanges(df) == 0
    assert "binaryFile" not in formatted_plan(df)


def test_pdf_page_text_single_python_crossing(spark):
    """Text-PDF page assembly is pure Catalyst over the file loop: one
    Python crossing and one aggregation shuffle, so the plan is loop →
    partial agg → exchange → final agg at any corpus size."""
    from paddleocr_spark.sources import pdf_text_store

    page = pdf_text_store.pdf_page_text(spark, SF)
    assert _n_crossings(page) == 1, formatted_plan(page)
    assert has_partial_aggregate(page)
    assert count_exchanges(page) <= 1


def test_stream_ingest_scan_reads_no_content(spark, tmp_path):
    """The ingest stream's binaryFile source only lists files: each
    micro-batch's scan reads ``path`` alone, never ``content`` (the
    loop reads the bytes on the worker)."""
    import re

    from paddleocr_spark.streaming.incremental import streaming_page_ingest

    files_dir = tmp_path / "landing"
    files_dir.mkdir()
    (files_dir / "a.doc").write_bytes(b"FAKEDOC" + bytes([2]) + b"x")
    store = spark._jsparkSession.sharedState().statusStore()
    seen = store.executionsList().size()
    streaming_page_ingest(spark, str(files_dir), str(tmp_path / "out"),
                          str(tmp_path / "ckpt")).awaitTermination()
    executions = store.executionsList()
    plans = [executions.apply(i).physicalPlanDescription()
             for i in range(seen, executions.size())]
    scans = [p for p in plans if "Scan binaryFile" in p]
    assert scans, plans
    for plan in scans:
        for m in re.finditer(r"ReadSchema: (struct<[^\n]*>)", plan):
            assert "content" not in m.group(1), plan
