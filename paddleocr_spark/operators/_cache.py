"""Tracked caching: one registry for every cache a query or a session
owns.

Several operators persist a small intermediate DataFrame that multiple
branches of one query consume (pred/gt salt families, LSH band rows,
confusion matrices). The persist is load-bearing — Catalyst does not
reuse the expensive decode subtree across join sides, and a LAZY cache
races (concurrent stages each compute the subtree; measured 63.6 s vs
22.3 s at sf0.1) — but a bare ``persist()`` leaks: cached partitions
accumulate across a multi-query bench/correctness run on one session.

Every such cache is registered under its session with a scope:

- ``"query"``: ``eager_persist`` caches and the localCheckpoint blocks
  of iterative jobs (``checkpointer``). Unpersisting a localCheckpoint
  discards data with no recompute path (the lineage was truncated), so
  ``release(spark)`` is called only once a query's results are written
  or collected (``bench.py`` between queries, a stream's batch body
  after its sinks).
- ``"session"``: ``pinned_persist`` pins, intermediates shared ACROSS
  queries of one session (the decoded KIE token fragments). Only an
  explicit ``release(spark, "session")`` at teardown drops them.

``release_one`` unpersists a single cache without touching the rest of
the session's registry. At production scale these intermediates are
their own tables and the problem disappears.
"""

from __future__ import annotations

__all__ = ["eager_persist", "pinned_persist", "checkpointer", "release",
           "release_one"]

# session -> {key: (scope, df)}; key is id(df) for query-scope entries
# and the caller's logical key for pins. Keyed by the session OBJECT:
# every registered DataFrame holds its session strongly, so an entry
# keeps its session alive and no other session can ever be handed it.
# The DataFrame references are strong too: the query function's local
# goes out of scope as soon as it returns (the returned result holds
# only the JVM plan), so a weak reference would be dead by release time
# and the cache would leak.
_REGISTRY: dict = {}


def _track(df):
    _REGISTRY.setdefault(df.sparkSession, {})[id(df)] = ("query", df)
    return df


def _unpersist(df) -> bool:
    try:
        df.unpersist()
        # Dataset.unpersist does not reach a checkpoint's blocks: they
        # belong to the checkpointed RDD under the plan. Dropped through
        # the context, because RDD.unpersist WARNs on every locally
        # checkpointed RDD that the drop this release intends is final
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD" and plan.rdd().isCheckpointed():
            df.sparkSession.sparkContext._jsc.sc().unpersistRDD(
                plan.rdd().id(), False)
        return True
    except Exception:
        return False  # session already stopped


def eager_persist(df, materialize: bool = True):
    """persist() + count() + register for later release. Returns df.

    The count() is the eager-materialization barrier that serializes
    the cache fill before consumers race it (no in-flight dedup in
    Spark's cache manager). Registration happens BEFORE the count so a
    failing materialization (corrupt split, executor OOM) leaves the
    partially-cached df tracked and releasable, not orphaned.

    ``materialize=False`` skips the count: correct ONLY when the
    caller's first consumer runs SEQUENTIALLY (it fills the cache as a
    side effect) — saves one whole job of scheduler overhead, which on
    small inputs is the dominant cost of a multi-branch query.
    """
    df = _track(df.persist())
    if materialize:
        df.count()
    return df


def pinned_persist(spark, key: str, builder):
    """Build-once-per-session persist of ``builder()`` under ``key``;
    returns the cached DataFrame on later calls. The extract-once /
    analyze-many layout at session scale: bounded by the handful of
    fragment tables a session touches (small-string rows)."""
    ent = _REGISTRY.get(spark, {}).get(key)
    if ent is not None:
        return ent[1]
    df = builder().persist()
    df.count()
    _REGISTRY.setdefault(spark, {})[key] = ("session", df)
    return df


def checkpointer(spark, checkpoint_dir: str | None):
    """Returns ``ckpt(df) -> df``, lineage truncation for iterative
    jobs in the chosen durability mode.

    Loop-carried state (PageRank ranks, connected-components labels)
    must be checkpointed every few rounds or the logical plan nests and
    multiplies (see operators/graph.py). Two modes:

    - ``localCheckpoint(eager=True)`` (``checkpoint_dir=None``): blocks
      live on EXECUTORS and are tracked in query scope. Fast, zero
      configuration — and exactly right on local[*] where "executor
      loss" cannot happen without losing the whole JVM.
    - reliable ``checkpoint(eager=True)`` into ``checkpoint_dir``
      (installed as the context's checkpoint dir, idempotently): blocks
      go to the (distributed) filesystem, so on a real cluster one
      executor loss after an eager checkpoint leaves a recompute path —
      localCheckpoint there kills the lineage WITHOUT a recovery copy,
      turning one lost executor into a failed job. At 100-TB scale pass
      a DFS path (or write every k-th round's state to an intermediate
      table, the pattern the prep tables already use).

    The two modes are output-identical (tests/test_iter_checkpoint.py);
    reliable checkpoint files are cleaned by Spark only with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` — a
    bounded per-job directory either way."""
    if checkpoint_dir is None:
        return lambda df: _track(df.localCheckpoint(eager=True))
    sc = spark.sparkContext
    current = sc.getCheckpointDir()
    if not current or checkpoint_dir not in current:
        sc.setCheckpointDir(checkpoint_dir)
    return lambda df: df.checkpoint(eager=True)


def release(spark, scope: str = "query") -> int:
    """Unpersist every tracked cache of ``scope`` of ``spark`` and drop
    it from the registry. Returns the number released. Query scope is
    safe only once the owning queries' results are materialized (see
    the module docstring); a released eager persist is simply
    recomputed, a released localCheckpoint is gone — which is why there
    is no all-sessions form: it would discard the in-flight iterative
    state of a query another thread runs in another session. Later
    ``pinned_persist`` calls after a session-scope release rebuild."""
    entries = _REGISTRY.get(spark, {})
    n = 0
    for key in [k for k, (sc, _) in entries.items() if sc == scope]:
        n += _unpersist(entries.pop(key)[1])
    if not entries:
        _REGISTRY.pop(spark, None)
    return n


def release_one(df) -> bool:
    """Unpersist ONE tracked cache and drop it from the registry,
    leaving the session's other caches alone (a function that created
    a cache must not release siblings a caller is still filling)."""
    entries = _REGISTRY.get(df.sparkSession, {})
    entries.pop(id(df), None)
    if not entries:
        _REGISTRY.pop(df.sparkSession, None)
    return _unpersist(df)
