"""Both connected-components algorithms vs a sequential union-find on
seeded random graphs and a deep path graph (the topology where the
diameter-bound propagation loop is at its worst and the star variant's
O(log n) bound matters)."""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from paddleocr_spark.operators import graph


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min node of the component
    label = {}
    for x in range(n_nodes):
        r = find(x)
        label.setdefault(r, min(i for i in range(n_nodes)
                                if find(i) == r))
    touched = {a for e in edges for a in e}
    return {x: label[find(x)] for x in touched}


def _spark_labels(df):
    return {r.node: r.label for r in df.collect()}


def _graphs():
    rng = np.random.default_rng(7)
    out = []
    for n, m in [(20, 12), (40, 30), (60, 25)]:
        edges = {(int(a), int(b))
                 for a, b in zip(rng.integers(0, n, m),
                                 rng.integers(0, n, m)) if a != b}
        out.append((n, sorted(edges)))
    # deep path: worst case for diameter-bound propagation
    out.append((33, [(i, i + 1) for i in range(32)]))
    return out


def test_propagation_matches_union_find(spark):
    for n, edges in _graphs():
        if len(edges) > 30:  # keep the diameter-bound loop off the
            continue         # deep path (that's the star test's job)
        df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = _spark_labels(graph.connected_components(df))
        assert got == _union_find(n, edges), (n, edges)


def test_star_matches_union_find_and_converges_fast(spark):
    for n, edges in _graphs():
        df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        labels, rounds = graph._star(df, "doc_a", "doc_b", 64)
        got = _spark_labels(labels)
        assert got == _union_find(n, edges), (n, edges)
        # O(log n) bound with slack — on the 32-edge path plain
        # propagation needs 32 rounds, the star variant stays small
        assert rounds <= 10, (n, rounds)


def test_self_loop_only_nodes_are_singleton_components(spark):
    """A node whose only edge is a self-loop is incident to an edge and
    must appear in the output as its own component (the contract says
    'every node incident to an edge')."""
    from paddleocr_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(5, 5), (1, 2)], "doc_a long, doc_b long")
    for fn in (connected_components, connected_components_star):
        got = {(r.node, r.label) for r in fn(edges).collect()}
        assert got == {(5, 5), (1, 1), (2, 1)}, (fn.__name__, got)


def test_null_node_id_fails_loudly(spark):
    """A NULL or non-numeric node id must raise, not silently drop the
    edge (NULL != NULL) and fragment the component. Malformed strings
    already fail via the ANSI cast; literal NULLs need _node_col's
    guard."""
    import pytest
    from pyspark.errors import PySparkException

    from paddleocr_spark.operators.graph import connected_components

    null_edges = spark.createDataFrame(
        [(1, 2), (None, 3)], "doc_a long, doc_b long")
    with pytest.raises(Exception, match="NULL or non-numeric"):
        connected_components(null_edges).collect()

    bad = spark.createDataFrame(
        [("1", "2"), ("not-a-number", "3")], "doc_a string, doc_b string")
    with pytest.raises((PySparkException, Exception),
                       match="CAST_INVALID_INPUT|NULL or non-numeric"):
        connected_components(bad).collect()


def test_loops_plan_over_a_checkpointed_input(spark, monkeypatch):
    """Both loops read their input edges through one checkpoint: no
    round's plan and not the returned labels carry the input's
    operators; a LogicalRDD leaf stands in for them."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators import _cache

    # an aggregated input whose own lineage ends in a Range leaf: the
    # path 0 - 1 - 2 - 3 - 4
    edges = (spark.range(40)
             .groupBy((F.col("id") % 4).alias("doc_a"))
             .agg(F.max(F.col("id") % 4 + 1).alias("doc_b")))
    plans = []
    iterate = _cache.iterate

    def recording(state, step, *args, **kwargs):
        def traced(s, r):
            new = step(s, r)
            plans.append(new._jdf.queryExecution().logical())
            return new
        traced.__name__ = step.__name__
        return iterate(state, traced, *args, **kwargs)

    monkeypatch.setattr(_cache, "iterate", recording)
    for fn in (graph.connected_components, graph.connected_components_star):
        plans.clear()
        labels = fn(edges)
        assert {(r.node, r.label) for r in labels.collect()} == {
            (i, 0) for i in range(5)}, fn.__name__
        plans.append(labels._jdf.queryExecution().logical())
        for plan in plans:
            leaves = plan.collectLeaves()
            names = {leaves.apply(i).nodeName()
                     for i in range(leaves.size())}
            assert names == {"LogicalRDD"}, (fn.__name__, names)
        _cache.release(spark)
