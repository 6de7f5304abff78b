"""Streaming monitors over persisted mergeable sketches (CM + HLL).

The batch sketches (``ops.sketch``, ``ops.hll``) are mergeable by
construction — cell-wise addition / register-wise MAX — which makes
their streaming forms trivial: each micro-batch builds its partial
sketch (one scan, O(state) rows out) and folds it into the on-disk
state, exactly the incremental-profiler pattern. The monitors then
answer "how often has value v occurred" / "how many distinct values"
across the WHOLE stream history from constant-size state, regardless
of how many loads or how high the cardinality — the 100 TB shape for
monitoring questions that don't justify an exact distinct-value table.

Both monitors commit each fold through ``streaming.committed`` (the
shared protocol) and skip a batch id they have already applied, so the
additive Count-Min fold never double-counts a replayed batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datalakerulegeneration_spark.materialize import scope
from datalakerulegeneration_spark.ops.hll import hll_estimate, hll_merge, hll_sketch
from datalakerulegeneration_spark.ops.sketch import cm_estimate, cm_merge, cm_sketch
from datalakerulegeneration_spark.streaming.committed import CommittedState, start_sink


class _MergeMonitor:
    """Shared state of the sketch monitors: one folded sketch."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        self._state = CommittedState(spark, state_dir)

    def applied_batch_id(self) -> int | None:
        """batch_id of the last fully-committed fold, or None."""
        return self._state.batch_id()

    def sketch(self) -> DataFrame:
        return self._state.read("sketch")


class CMSketchMonitor(_MergeMonitor):
    """foreachBatch sink folding per-batch CM sketches into parquet
    state — additive cell merge, so the replay guard is load-bearing."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        col: str,
        depth: int = 4,
        width: int = 256,
    ):
        super().__init__(spark, state_dir)
        self.col = col
        self.depth = depth
        self.width = width

    @scope()
    def update(self, batch: DataFrame, batch_id: int) -> None:
        self._state.fold(
            "sketch", cm_sketch(batch, self.col, self.depth, self.width), cm_merge, batch_id
        )

    def estimate(self, values: DataFrame) -> DataFrame:
        """Point estimates ``(value, est)`` for ``values[self.col]``
        against the full stream history."""
        return cm_estimate(self.sketch(), values, self.col, self.depth, self.width)


def sketch_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    col: str,
    depth: int = 4,
    width: int = 256,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming DataFrame into the sketch monitor; returns
    ``(StreamingQuery, CMSketchMonitor)``."""
    mon = CMSketchMonitor(spark, state_dir, col, depth, width)
    return start_sink(stream, mon.update, state_dir, checkpoint_dir), mon


class HLLMonitor(_MergeMonitor):
    """foreachBatch sink folding per-batch HLL registers into parquet
    state — the streaming distinct-count monitor (optionally grouped,
    e.g. distinct users per event_type across all loads). Register
    merge is MAX (idempotent on its own), but the same commit keeps the
    two monitors' crash semantics identical."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        col: str,
        m: int = 256,
        group_cols: list[str] | None = None,
    ):
        super().__init__(spark, state_dir)
        self.col = col
        self.m = m
        self.group_cols = list(group_cols or [])

    @scope()
    def update(self, batch: DataFrame, batch_id: int) -> None:
        self._state.fold(
            "sketch", hll_sketch(batch, self.col, self.m, self.group_cols), hll_merge, batch_id
        )

    def estimate(self) -> DataFrame:
        """Distinct-count estimate per group over the full history."""
        return hll_estimate(self.sketch(), self.m, self.group_cols)


def hll_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    col: str,
    m: int = 256,
    group_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming DataFrame into the HLL monitor; returns
    ``(StreamingQuery, HLLMonitor)``."""
    mon = HLLMonitor(spark, state_dir, col, m, group_cols)
    return start_sink(stream, mon.update, state_dir, checkpoint_dir), mon
