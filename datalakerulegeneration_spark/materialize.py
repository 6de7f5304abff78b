"""The one way to materialize an intermediate frame and release it.

Every cached or checkpointed intermediate in the package comes from
:func:`persist` or :func:`checkpoint`. Each registers the frame with
the innermost open :func:`scope` (held in a ``ContextVar``), and the
scope releases what was registered in it on exit, also on an
exception: ``unpersist`` for a persisted frame, the RDD behind a
checkpointed one. :func:`release` frees one frame early, for loops.

Who owns a materialization:

* an op that returns a frame still built on its intermediates opens no
  scope — the intermediates belong to the caller's scope, and without
  one they live until ``spark.catalog.clearCache()`` (persists) or the
  garbage collection of their RDDs (checkpoints);
* an op that collects, writes, or builds its result from driver-side
  values opens a scope around its body;
* a loop releases round r−1's frame once round r's materializing
  action has run;
* a frame is never released before its last action — some are
  materialized for correctness, not speed (a lazy range exchange
  re-samples its boundaries per consumer).

A scope is per thread: a pool thread does not see the caller's, so
plans are built on the thread that owns the scope and only their
actions are submitted to a pool.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_held: ContextVar[list[DataFrame] | None] = ContextVar("materialize_scope", default=None)


def _hold(df: DataFrame) -> DataFrame:
    held = _held.get()
    if held is not None:
        held.append(df)
    return df


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (lazy, MEMORY_AND_DISK), owned by the open scope."""
    return _hold(df.persist())


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned by the open scope. Lazy by
    default: it materializes at the first action and cuts the lineage."""
    return _hold(df.localCheckpoint(eager=eager))


def release(df: DataFrame) -> None:
    """Release a frame from :func:`persist` or :func:`checkpoint` now
    (idempotent: its scope releasing it again is a no-op)."""
    df.unpersist()  # a no-op unless df holds a CacheManager entry
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":  # a checkpoint: its blocks
        plan.rdd().unpersist(False)


def footprint(spark) -> tuple[set[int], int]:
    """What the session holds: persisted RDD ids and CacheManager entries."""
    ids = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    return ids, spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@contextmanager
def scope():
    """Release everything materialized inside on exit. Also usable as a
    decorator (``@scope()``), one scope per call."""
    held: list[DataFrame] = []
    token = _held.set(held)
    try:
        yield
    finally:
        _held.reset(token)
        for df in reversed(held):
            release(df)
