"""Distributed connected components over an edge DataFrame.

One algorithm, large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), as pure DataFrame ops
returning (node, label) with label = the component's minimum node id.
Each round rewires every node's neighbourhood toward its local minimum,
so the loop converges in O(log n) rounds on ANY topology: a 1,000-edge
near-dup chain takes about ten rounds where min-label propagation would
take a thousand.

A round is kept to three exchanges, since on small graphs the per-job
cost dominates:

- each neighbourhood minimum is ``min(dst) OVER (PARTITION BY src)``,
  one exchange per half-round instead of a groupBy plus a join back;
- the round's dedup is a ``groupBy(src, dst)`` over the new edges and
  the round's input edges carrying two flags, ``is_new`` and
  ``is_old``, so the fixpoint test is one filter count over the new
  state (``is_new != is_old``) instead of a join against the old one,
  and the next round reads ``where(is_new)``.

Every round symmetrises its input, so round 1 needs no special case:
its "old" set is the raw input, which is a fixpoint only when it
already is a child -> root star forest.

The loop runs on the one loop driver, ``operators/_cache.iterate``,
which checkpoints the loop-carried edge set every round: a cache alone
keeps the EXECUTION flat but the logical plan still nests and
multiplies every round (measured driver blowup from plan
stringification after ~5 rounds), while the checkpoint replaces the
plan with a leaf. ``checkpoint_dir=`` selects its cluster-durable
reliable mode. Per-round driver work is the one count, which also fills
the round's checkpoint.

The input edges are read through one lazy checkpoint
(``_cache._ckpt``), filled by round 1, so that neither round 1 nor the
final labelling carries the caller's whole lineage (an LSH verify over
signatures, say) in its plan.
"""

from __future__ import annotations

__all__ = ["connected_components"]

# a guard against non-convergence, not a tuning knob: >= 2*log2(2^31)+2
MAX_ROUNDS = 64


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


def connected_components(edges, src: str = "doc_a", dst: str = "doc_b",
                         max_iters: int = MAX_ROUNDS,
                         checkpoint_dir: str | None = None):
    """(node, label) for every node incident to an edge; label = the
    minimum node id reachable from it."""
    return _star(edges, src, dst, max_iters, checkpoint_dir)[0]


def _star(edges, src, dst, max_iters=MAX_ROUNDS, checkpoint_dir=None):
    """``(labels, rounds)`` of ``connected_components``."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from paddleocr_spark.operators._cache import iterate

    def star_round(state, r):
        old = state.where("is_new").select("src", "dst")
        mn = F.min("dst").over(Window.partitionBy("src"))
        # large star: attach every LARGER neighbour of u to
        # min(N(u) ∪ {u}); the output is directed child -> parent
        large = (old.unionByName(old.select(F.col("dst").alias("src"),
                                            F.col("src").alias("dst")))
                 .select("src", "dst", F.least(mn, "src").alias("m"))
                 .where(F.col("dst") > F.col("src"))
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
        # small star: attach u and every parent of u to u's least parent
        small = (large.select(F.explode(F.array("src", "dst")).alias("src"),
                              mn.alias("dst"))
                 .where(F.col("src") != F.col("dst")))
        return (small.select("src", "dst", F.lit(True).alias("is_new"),
                             F.lit(False).alias("is_old"))
                .unionByName(old.select("src", "dst",
                                        F.lit(False).alias("is_new"),
                                        F.lit(True).alias("is_old")))
                .groupBy("src", "dst")
                .agg(F.max("is_new").alias("is_new"),
                     F.max("is_old").alias("is_old")))

    e = _input_edges(F, edges, src, dst, checkpoint_dir)
    forest, rounds = iterate(
        e.where(F.col("src") != F.col("dst"))
        .withColumn("is_new", F.lit(True)),
        star_round, max_iters,
        converged=lambda new, old: (
            new.where(F.col("is_new") != F.col("is_old")).count() == 0),
        checkpoint_dir=checkpoint_dir)
    # fixpoint: a forest of stars (child -> component min); every input
    # endpoint labels itself too, which covers the roots and the nodes
    # whose only edges are self-loops
    return (forest.select("src", "dst")
            .unionByName(e.select("src", F.col("src").alias("dst")))
            .unionByName(e.select(F.col("dst").alias("src"), "dst"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("dst").alias("label"))), rounds
