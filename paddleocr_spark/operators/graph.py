"""Distributed connected components over an edge DataFrame.

Two algorithms, both pure DataFrame ops (joins + map-side-combinable
min aggregations), both returning (node, label) with label = the
component's minimum node id:

- min-label propagation (``connected_components``): one join + one
  min-groupBy per round; rounds = graph diameter. The right choice for
  shallow components (duplicate clusters: copies of a common source,
  diameter 2-3).
- large-star / small-star (``connected_components_star``; Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14): each
  round rewires every node's neighborhood toward its local minimum;
  converges in O(log n) rounds on ANY topology — the scale path for
  deep or adversarial graphs at 10^12 edges, where a diameter-bound
  loop is unacceptable.

Loop-carried state (labels / the rewired edge set) is truncated every
round via ``operators/_cache.checkpointer``: a cache alone keeps the
EXECUTION flat but the logical plan still nests and multiplies every
round (the join/union/groupBy tree references the previous round's
tree several times — measured driver blowup from plan stringification
after ~5 rounds), while the checkpoint replaces the plan with a leaf.
The default is ``localCheckpoint`` (right for local[*]); pass
``checkpoint_dir=`` for the cluster-durable reliable ``checkpoint()``
mode — output-identical, survives executor loss. Static inputs (the
symmetrized edge set) use the tracked eager cache. Per-round driver
work is one count — loop control, not data collection.
"""

from __future__ import annotations

__all__ = ["connected_components", "connected_components_star"]


def _node_col(F, c: str):
    """Node id cast to long, failing LOUDLY on ids the cast nulls: a
    NULL node would silently drop its edge (NULL != NULL) and fragment
    the component instead of erroring."""
    casted = F.col(c).cast("long")
    return F.when(
        casted.isNull(),
        F.raise_error(F.concat(
            F.lit(f"connected components: node id in '{c}' is NULL or "
                  f"non-numeric: "),
            F.coalesce(F.col(c).cast("string"), F.lit("NULL"))))
    ).otherwise(casted)


def _sym_edges(F, edges, src: str, dst: str):
    """Symmetrized, deduplicated, self-loop-free (src, dst) pairs."""
    e = (edges.select(_node_col(F, src).alias("src"),
                      _node_col(F, dst).alias("dst"))
         .where(F.col("src") != F.col("dst")))
    return (e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
            .distinct())


def _edge_nodes(F, edges, src: str, dst: str):
    """EVERY node incident to an edge — including nodes whose only
    edges are self-loops, which _sym_edges' self-loop filter removes
    (they are their own singleton component, label = node)."""
    return (edges.select(_node_col(F, src).alias("node"))
            .unionByName(edges.select(_node_col(F, dst).alias("node")))
            .distinct())


def connected_components(edges, src: str = "doc_a", dst: str = "doc_b",
                         max_iters: int = 50,
                         checkpoint_dir: str | None = None):
    """(node, label) for every node incident to an edge; label = the
    minimum node id reachable from it. Rounds needed = diameter."""
    df, _ = _propagation(edges, src, dst, max_iters, checkpoint_dir)
    return df


def _propagation(edges, src, dst, max_iters, checkpoint_dir=None):
    from pyspark.sql import functions as F

    from paddleocr_spark.operators._cache import (
        checkpointer,
        eager_persist,
        release_one,
    )

    ckpt = checkpointer(edges.sparkSession, checkpoint_dir)
    sym = eager_persist(_sym_edges(F, edges, src, dst))
    labels = ckpt(_edge_nodes(F, edges, src, dst)
                  .select("node", F.col("node").alias("lbl")))
    for rounds in range(1, max_iters + 1):
        prop = (sym.join(labels, sym.src == labels.node)
                .select(F.col("dst").alias("node"), F.col("lbl")))
        new_labels = ckpt(labels.unionByName(prop)
                          .groupBy("node").agg(F.min("lbl").alias("lbl")))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.lbl") != F.col("o.lbl"))
                   .count())
        # the previous round's checkpoint blocks are dead once the
        # changed-count is materialized — release them instead of
        # accumulating one cached label table per round
        release_one(labels)
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("lbl").alias("label")), rounds
    raise RuntimeError(f"label propagation: no fixpoint in "
                       f"{max_iters} rounds")


def connected_components_star(edges, src: str = "doc_a",
                              dst: str = "doc_b", max_iters: int = 64,
                              checkpoint_dir: str | None = None):
    """(node, label) via alternating large-star/small-star rounds —
    O(log n) rounds regardless of diameter."""
    df, _ = _star(edges, src, dst, max_iters, checkpoint_dir)
    return df


def _large_star(F, e):
    """For each node u: attach every LARGER neighbor to
    min(N(u) ∪ {u}). Kills long chains from the high end."""
    mn = e.groupBy("src").agg(F.min("dst").alias("mn"))
    m = F.least(F.col("mn"), F.col("src"))
    return (e.join(mn, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def _small_star(F, e):
    """For each node u: attach every neighbor ≤ u (and u itself) to
    min(N⁻(u) ∪ {u}). Flattens local stars onto the minimum."""
    down = e.where(F.col("dst") < F.col("src"))
    mn = down.groupBy("src").agg(F.min("dst").alias("mn"))
    attach = (down.join(mn, "src")
              .select(F.col("dst").alias("src"), F.col("mn").alias("dst")))
    self_edge = mn.select("src", F.col("mn").alias("dst"))
    return (attach.unionByName(self_edge)
            .where(F.col("src") != F.col("dst"))
            .distinct())


def _star(edges, src, dst, max_iters, checkpoint_dir=None):
    from pyspark.sql import functions as F

    from paddleocr_spark.operators._cache import (
        checkpointer,
        eager_persist,
        release_one,
    )

    ckpt = checkpointer(edges.sparkSession, checkpoint_dir)
    e = eager_persist(_sym_edges(F, edges, src, dst))
    nodes = eager_persist(_edge_nodes(F, edges, src, dst))
    e_is_symmetric = True  # _sym_edges output already holds both dirs
    for rounds in range(1, max_iters + 1):
        # large-star input must see both directions; its output (and
        # small-star's) is directed child -> smaller parent. Round 1's
        # input is already symmetric — re-symmetrizing it would double
        # the largest round's shuffle volume for nothing.
        both = e if e_is_symmetric else e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        e2 = ckpt(_small_star(F, _large_star(F, both)))
        moved = (e2.exceptAll(e).limit(1).count()
                 + e.exceptAll(e2).limit(1).count())
        if not e_is_symmetric:
            # previous round's checkpoint blocks are dead now (round
            # 1's `e` is the tracked eager cache, released with the
            # query instead)
            release_one(e)
        e = e2
        e_is_symmetric = False
        if moved == 0:
            # fixpoint: e is a forest of stars (node -> component min)
            parent = e.select(F.col("src").alias("node"),
                              F.col("dst").alias("label"))
            roots = (nodes.join(parent, "node", "left_anti")
                     .select("node", F.col("node").alias("label")))
            return parent.unionByName(roots), rounds
    raise RuntimeError(f"star CC: no fixpoint in {max_iters} rounds")
