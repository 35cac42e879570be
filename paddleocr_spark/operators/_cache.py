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
  of iterative jobs (``_ckpt``, ``iterate``). Unpersisting a
  localCheckpoint discards data with no recompute path (the lineage
  was truncated), so ``release(spark)`` is called only once a query's
  results are written or collected (``bench.py`` between queries, a
  stream's batch body after its sinks).
- ``"session"``: ``pinned_persist`` pins, intermediates shared ACROSS
  queries of one session (the decoded KIE token fragments). Only an
  explicit ``release(spark, "session")`` at teardown drops them.

``release_one`` unpersists a single cache without touching the rest of
the session's registry. At production scale these intermediates are
their own tables and the problem disappears.
"""

from __future__ import annotations

__all__ = ["eager_persist", "pinned_persist", "iterate", "release",
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
        # belong to the RDD under the plan, checkpointed or not (a lazy
        # checkpoint whose first action failed still holds blocks).
        # Dropped through the context: RDD.unpersist WARNs on every
        # locally checkpointed RDD that the drop is final
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            df.sparkSession.sparkContext._jsc.sc().unpersistRDD(
                plan.rdd().id(), False)
        return True
    except Exception:
        return False  # session already stopped


def eager_persist(df, materialize: bool = True):
    """persist() + count() + register for later release. Returns df.
    A DataFrame that is already cached (a ``pinned_persist`` result,
    say) is returned untouched: no second persist, no count, no entry.

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
    from pyspark import StorageLevel

    if df.storageLevel != StorageLevel.NONE:
        return df
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


def _ckpt(df, checkpoint_dir: str | None = None):
    """Lazy checkpoint of ``df``: its plan becomes a ``LogicalRDD``
    leaf, filled by the first action that reads it. ``iterate`` takes
    one per checkpointed round, and a loop takes one of its input so
    that no round's plan carries the caller's lineage. Local blocks are
    tracked in query scope; ``checkpoint_dir`` selects the reliable
    mode (see ``iterate``)."""
    if checkpoint_dir is None:
        return _track(df.localCheckpoint(eager=False))
    sc = df.sparkSession.sparkContext
    if checkpoint_dir not in (sc.getCheckpointDir() or ""):
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=False)


def iterate(state, step, max_rounds: int, converged=None,
            checkpoint_dir: str | None = None):
    """The one round loop of iterative jobs: ``state = step(state, r)``
    for r = 1, 2, ...; returns ``(state, rounds)``.

    Loop-carried state (PageRank ranks, the connected-components edge
    set) is checkpointed, or its logical plan nests and multiplies every
    round (operators/graph.py). Checkpoints are lazy: under AQE building
    one already runs the plan's shuffle-map stages, and an eager one's
    count would be a job of its own.

    - With ``converged(new, old)``: every round is checkpointed, and
      ``converged`` runs the round's one action, which must read EVERY
      partition of ``new`` (a count over a filter or a join, not a
      ``limit``) because it materializes the checkpoint. Only then is
      the previous state released. No fixpoint in ``max_rounds``
      rounds raises ``RuntimeError`` naming ``step``.
    - Without it: exactly ``max_rounds`` rounds, checkpointed every
      third but the last (the caller's action computes that one).
      Nothing is released mid-loop: no action has filled the newer
      checkpoint yet, so the older blocks stay until ``release``.

    ``checkpoint_dir=None`` keeps ``localCheckpoint`` blocks on the
    executors, tracked in query scope: right on local[*], where losing
    an executor loses the JVM anyway. A ``checkpoint_dir`` (a DFS path
    at cluster scale) selects reliable ``checkpoint``, which survives
    an executor loss; Spark cleans its files only with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``. The
    modes are output-identical (tests/test_iter_checkpoint.py)."""
    for r in range(1, max_rounds + 1):
        new = step(state, r)
        if converged is None:
            state = (_ckpt(new, checkpoint_dir)
                     if r % 3 == 0 and r < max_rounds else new)
            continue
        new = _ckpt(new, checkpoint_dir)
        done = converged(new, state)
        release_one(state)
        state = new
        if done:
            return state, r
    if converged is not None:
        raise RuntimeError(f"{step.__name__}: no fixpoint in "
                           f"{max_rounds} rounds")
    return state, max_rounds


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
