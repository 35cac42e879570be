"""The connected-components loop vs a sequential union-find on seeded
random graphs, deep paths and combs (the topologies where a
diameter-bound loop is at its worst and the star loop's O(log n)
bound matters), plus its input contract and plan shape."""

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


def _shuffled(rng, n_nodes, edges):
    ids = rng.permutation(n_nodes)
    return [(int(ids[a]), int(ids[b])) for a, b in edges]


def _graphs():
    """(n_nodes, edges) over ids 0..n_nodes-1."""
    rng = np.random.default_rng(7)
    out = []
    for n, m in [(20, 12), (40, 30), (60, 25)]:
        edges = {(int(a), int(b))
                 for a, b in zip(rng.integers(0, n, m),
                                 rng.integers(0, n, m)) if a != b}
        out.append((n, sorted(edges)))
    # deep paths: sorted, reversed and with shuffled ids
    path = [(i, i + 1) for i in range(32)]
    out += [(33, path), (33, [(b, a) for a, b in path]),
            (33, _shuffled(rng, 33, path))]
    # a shuffled comb: a path with a pendant leaf at every node
    comb = [(i, i + 1) for i in range(15)] + [(i, 16 + i) for i in range(16)]
    out.append((32, _shuffled(rng, 32, comb)))
    # nodes whose only edges are self-loops are their own components
    out.append((9, [(5, 5), (1, 2), (7, 7), (7, 7), (8, 8), (8, 2)]))
    return out


def test_star_matches_union_find_and_converges_fast(spark):
    """Labels equal a union-find's on every graph, and the loop
    converges in O(log n) rounds whatever the diameter: at most
    2*log2(n)+2, where min-label propagation would need 33 rounds on
    the 32-edge paths."""
    for n, edges in _graphs():
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        labels, rounds = graph._star(df, "doc_a", "doc_b")
        got = _spark_labels(labels)
        assert got == _union_find(n, edges), (n, edges)
        assert rounds <= 2 * np.log2(n) + 2, (n, rounds, edges)


def test_self_loop_only_nodes_are_singleton_components(spark):
    """A node whose only edge is a self-loop is incident to an edge and
    must appear in the output as its own component (the contract says
    'every node incident to an edge')."""
    edges = spark.createDataFrame(
        [(5, 5), (1, 2)], "doc_a long, doc_b long")
    got = {(r.node, r.label)
           for r in graph.connected_components(edges).collect()}
    assert got == {(5, 5), (1, 1), (2, 1)}, got


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
    """The loop reads its input edges through one checkpoint: no
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
    labels = graph.connected_components(edges)
    assert {(r.node, r.label) for r in labels.collect()} == {
        (i, 0) for i in range(5)}
    plans.append(labels._jdf.queryExecution().logical())
    assert len(plans) > 1
    for plan in plans:
        leaves = plan.collectLeaves()
        names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
        assert names == {"LogicalRDD"}, names
    _cache.release(spark)
