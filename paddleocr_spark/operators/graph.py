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

Both loops are a ``step`` plus a fixpoint test on the one loop driver,
``operators/_cache.iterate``, which checkpoints the loop-carried state
(labels / the rewired edge set) every round: a cache alone keeps the
EXECUTION flat but the logical plan still nests and multiplies every
round (the join/union/groupBy tree references the previous round's
tree several times — measured driver blowup from plan stringification
after ~5 rounds), while the checkpoint replaces the plan with a leaf.
``checkpoint_dir=`` selects its cluster-durable reliable mode. Per-round
driver work is one count over the new state, which also fills its
checkpoint — loop control, not data collection.

Both loops also read their input edges through one lazy checkpoint
(``_cache._ckpt``), filled by round 1: every round joins the input, so
without it the caller's whole lineage (an LSH verify over signatures,
say) rides in every round's plan and is analyzed and optimized again
each round, cached or not.
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


def _input_edges(F, edges, src: str, dst: str, checkpoint_dir):
    """The caller's edges as checked long (src, dst) pairs behind one
    lazy checkpoint: a ``LogicalRDD`` leaf in every plan built on
    them."""
    from paddleocr_spark.operators._cache import _ckpt

    return _ckpt(edges.select(_node_col(F, src).alias("src"),
                              _node_col(F, dst).alias("dst")),
                 checkpoint_dir)


def _sym_edges(F, e):
    """Symmetrized, deduplicated, self-loop-free (src, dst) pairs."""
    e = e.where(F.col("src") != F.col("dst"))
    return (e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
            .distinct())


def _edge_nodes(F, e):
    """EVERY node incident to an edge — including nodes whose only
    edges are self-loops, which _sym_edges' self-loop filter removes
    (they are their own singleton component, label = node)."""
    return (e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct())


def connected_components(edges, src: str = "doc_a", dst: str = "doc_b",
                         max_iters: int = 50,
                         checkpoint_dir: str | None = None):
    """(node, label) for every node incident to an edge; label = the
    minimum node id reachable from it. Rounds needed = diameter."""
    return _propagation(edges, src, dst, max_iters, checkpoint_dir)[0]


def _propagation(edges, src, dst, max_iters, checkpoint_dir=None):
    from pyspark.sql import functions as F

    from paddleocr_spark.operators._cache import eager_persist, iterate

    e = _input_edges(F, edges, src, dst, checkpoint_dir)
    sym = eager_persist(_sym_edges(F, e), materialize=False)

    def propagate(labels, r):
        # `was` carries each node's previous label through the min
        # groupBy (null on the propagated side), so the fixpoint test
        # reads the new state alone instead of joining the old one
        prop = (sym.join(labels, sym.src == labels.node)
                .select(F.col("dst").alias("node"), "lbl",
                        F.lit(None).cast("long").alias("was")))
        return (labels.select("node", "lbl", F.col("lbl").alias("was"))
                .unionByName(prop)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"), F.max("was").alias("was")))

    labels, rounds = iterate(
        _edge_nodes(F, e).select("node", F.col("node").alias("lbl")),
        propagate, max_iters,
        converged=lambda new, old: (
            new.where(F.col("lbl") != F.col("was")).count() == 0),
        checkpoint_dir=checkpoint_dir)
    return labels.select("node", F.col("lbl").alias("label")), rounds


def connected_components_star(edges, src: str = "doc_a",
                              dst: str = "doc_b", max_iters: int = 64,
                              checkpoint_dir: str | None = None):
    """(node, label) via alternating large-star/small-star rounds —
    O(log n) rounds regardless of diameter."""
    return _star(edges, src, dst, max_iters, checkpoint_dir)[0]


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

    from paddleocr_spark.operators._cache import eager_persist, iterate

    def star_round(e, r):
        # large-star input must see both directions; its output (and
        # small-star's) is directed child -> smaller parent. Round 1's
        # input is _sym_edges, already symmetric — re-symmetrizing it
        # would double the largest round's shuffle volume for nothing
        both = e if r == 1 else e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        return _small_star(F, _large_star(F, both))

    def unmoved(new, old):
        # both are distinct (src, dst) sets: count rows on one side only
        return (new.withColumn("n", F.lit(1))
                .join(old.withColumn("o", F.lit(1)), ["src", "dst"],
                      "full_outer")
                .where(F.col("n").isNull() | F.col("o").isNull())
                .count() == 0)

    e = _input_edges(F, edges, src, dst, checkpoint_dir)
    forest, rounds = iterate(
        eager_persist(_sym_edges(F, e), materialize=False),
        star_round, max_iters, converged=unmoved,
        checkpoint_dir=checkpoint_dir)
    # fixpoint: a forest of stars (node -> component min)
    parent = forest.select(F.col("src").alias("node"),
                           F.col("dst").alias("label"))
    roots = (_edge_nodes(F, e)
             .join(parent, "node", "left_anti")
             .select("node", F.col("node").alias("label")))
    return parent.unionByName(roots), rounds
