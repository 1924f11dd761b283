"""Cache-lifecycle helpers: release persisted intermediates instead of
leaking them for the life of the SparkSession.

Spark never auto-releases a ``persist()``-ed dataset or the block-storage
backing a ``localCheckpoint()``.  An operator that persists an intermediate
for multi-consumer fan-out (e.g. an exploded shingle index feeding both
sides of a self-join) and returns a *lazy* result therefore leaks that
cache: in a long-lived application — a 100 TB pipeline driver, a notebook,
a benchmark harness — every operator call grows executor storage until
eviction churn and GC pressure dominate.  The pattern here: eagerly
materialize the operator's (orders-of-magnitude smaller) output, then
unpersist the working set.

``localCheckpoint`` blocks are NOT registered in the SQL cache manager, so
``DataFrame.unpersist()`` cannot free them; they are only reachable through
``SparkContext.getPersistentRDDs``.  ``checkpoint_tracked`` captures the
RDD ids a checkpoint call registers so iterative operators can free round
N-1's blocks once round N is materialized (freeing the *final* round would
destroy the result — local checkpoints truncate lineage, so the blocks are
the only copy); ``fixpoint`` is that loop, shared by the graph and
components operators.

Id capture diffs the persistent-RDD registry around the checkpoint call
under a module lock, so concurrent driver threads using THIS module can't
misattribute each other's ids; checkpoints made directly (outside
``checkpoint_tracked``) during that window would still be swept into the
diff — rare, and the cost is early release of a cache another thread just
created, never corruption of this module's own tracking.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession

__all__ = ["checkpoint_tracked", "unpersist_ids", "materialize_release"]

# serializes the registry-diff around a checkpoint call so concurrent
# driver threads can't misattribute each other's RDD ids
_TRACK_LOCK = threading.Lock()


def _persistent_ids(spark: SparkSession) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def checkpoint_tracked(
    df: DataFrame, reliable: bool = False, eager: bool = True
) -> tuple[DataFrame, set[int]]:
    """Checkpoint ``df`` and return (checkpointed df, newly-registered RDD
    ids).  The ids are handles for :func:`unpersist_ids` once no live
    DataFrame depends on the blocks.  Reliable (HDFS-file) checkpoints
    register no persistent RDDs — the returned set is empty and cleanup is
    ``spark.cleaner.referenceTracking.cleanCheckpoints``'s job."""
    spark = df.sparkSession
    with _TRACK_LOCK:
        before = _persistent_ids(spark)
        out = (
            df.checkpoint(eager=eager) if reliable else df.localCheckpoint(eager=eager)
        )
        return out, _persistent_ids(spark) - before


def unpersist_ids(spark: SparkSession, ids: set[int], blocking: bool = False) -> None:
    """Free the block storage behind previously tracked checkpoint ids.
    Ids no longer registered are skipped."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in jmap.keySet().toArray():
        if i in ids:
            jmap.get(i).unpersist(blocking)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, dict | None], DataFrame],
    max_steps: int,
    *,
    chain: int = 1,
    observe: Sequence[Column] = (),
    stop: Callable[[dict, dict | None, DataFrame, DataFrame], bool] | None = None,
    ids: set[int] = frozenset(),
    metrics: dict | None = None,
    reliable: bool = False,
) -> tuple[DataFrame, set[int], dict | None, bool]:
    """Iterate ``state = step(state, metrics)`` at most ``max_steps``
    times, ``chain`` lazy steps per checkpoint; returns (state, its block
    ids, its metrics, converged).  Per round: chain the steps (each reads
    the previous output projected to ``state``'s columns, so a step may
    add probe columns), take ONE checkpoint with the ``observe``
    aggregates riding it, call ``stop(metrics, prev_metrics, new, old)``
    while ``old`` is still readable, then free the previous round's
    blocks (``ids`` in the first round).  ``step`` gets the metrics of the
    checkpoint it reads (``metrics`` for the initial state) and ``None``
    when chained on a lazy state.  ``converged`` is True only when
    ``stop`` said so; callers raise their own errors."""
    spark = state.sparkSession
    cols = state.columns
    ids = set(ids)
    done, converged = 0, False
    while done < max_steps and not converged:
        n = min(chain, max_steps - done)
        nxt = state
        for k in range(n):
            nxt = step(nxt.select(*cols), metrics if k == 0 else None)
        obs = Observation() if observe else None
        if obs is not None:
            nxt = nxt.observe(obs, *observe)
        nxt, new_ids = checkpoint_tracked(nxt.select(*cols), reliable=reliable)
        got = obs.get if obs is not None else None
        converged = stop is not None and bool(stop(got, metrics, nxt, state))
        unpersist_ids(spark, ids)
        state, ids, metrics = nxt, new_ids, got
        done += n
    return state, ids, metrics, converged


def materialize_release(
    out: DataFrame, *intermediates: DataFrame, release: bool = True
) -> DataFrame:
    """Eagerly materialize ``out`` (local checkpoint) and unpersist the
    ``persist()``-ed intermediates that fed it.

    For operators whose result is orders of magnitude smaller than their
    working set — candidate-pair lists vs an exploded n-gram index — this
    swaps a session-lifetime leak of the big dataset for block storage of
    the small one.  Pass ``release=False`` to keep the fully lazy plan
    (composing into a larger pipeline that manages its own caching)."""
    if not release:
        return out
    # conf kill-switch (mirrors spark.sparkplug.spread.enabled): plan
    # audits need the full lazy pipeline plan, not a post-materialization
    # ExistingRDD scan
    if (
        out.sparkSession.conf.get("spark.sparkplug.release.enabled", "true")
        == "false"
    ):
        return out
    out = out.localCheckpoint(eager=True)
    for df in intermediates:
        df.unpersist()
    return out
