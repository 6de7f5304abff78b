"""Incremental profiling over Structured Streaming (D10 → Spark-native).

The reference's only streaming trait is out-of-core iteration with
``seek(0)`` re-reads (dboost/utils/read.py:10-12). The Spark-native
generalization: profile statistics that are MERGEABLE (count, nulls,
decimal sums, sum-of-squares, min, max, distinct sketches) are
maintained per micro-batch via ``foreachBatch`` — each batch computes
its partial aggregate (same expressions as the batch profiler) and
merges into a state table; ``finalize()`` derives the profile view
(mean/std/ratios) exactly as the batch engine would.

Distinct counts use HyperLogLog sketches (``hll_sketch_agg`` /
``hll_union_agg``) — the only mergeable form of distinctness; exact
distinct is a batch-mode capability (documented tolerance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import scope
from datalakerulegeneration_spark.profiling.profiler import column_kind
from datalakerulegeneration_spark.profiling import stats as S
from datalakerulegeneration_spark.streaming.committed import CommittedState, start_sink


def _partial_stats(batch: DataFrame, columns: list[str]) -> DataFrame:
    """Per-batch mergeable partials, one row per column (long format)."""
    kinds = {f.name: column_kind(f.dataType) for f in batch.schema.fields}
    plans = []
    for c in columns:
        # non-numeric Spark types (timestamp/date/bool/binary) reject a
        # direct try_cast to decimal at ANALYSIS time — route them
        # through their string form (the batch profiler's convention);
        # numeric columns cast directly so no precision is lost
        q = f"`{c}`" if kinds.get(c) == S.NUMERIC else f"cast(`{c}` as string)"
        num = F.expr(f"try_cast({q} as double)")
        agg = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col(c).isNull() | (F.col(c).cast("string") == ""), 1).otherwise(0)
            ).alias("nulls"),
            F.sum(F.expr(f"try_cast({q} as decimal(18,6))")).cast("decimal(38,6)").alias("s"),
            F.sum(F.expr(f"cast(try_cast({q} as double) * try_cast({q} as double) as decimal(38,12))"))
            .cast("decimal(38,12)")
            .alias("sq"),
            F.count(num).alias("n_num"),
            F.min(num).alias("mn"),
            F.max(num).alias("mx"),
            F.hll_sketch_agg(F.col(c).cast("string")).alias("hll"),
        )
        plans.append(agg.select(F.lit(c).alias("column"), "*"))
    out = plans[0]
    for p in plans[1:]:
        out = out.unionByName(p)
    return out


def partial_stats(batch: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Batch-facing partial profile of ONE load: a mergeable state frame
    (one row per column). Profile each daily/hourly load once, keep the
    tiny state frames, and :func:`merge_partials` them — re-profiling
    100 TB of history to add a day's data is exactly the anti-pattern
    this avoids. The streaming profiler's foreachBatch sink uses the
    same expressions, so batch and streaming states are interchangeable."""
    return _partial_stats(batch, columns or batch.columns)


def merge_partials(*states: DataFrame) -> DataFrame:
    """Merge any number of partial-state frames into one: sums add,
    min/max fold, HLL sketches union (the only mergeable form of
    distinctness). Counts/sums/extrema merge EXACTLY in any order or
    tree shape; the HLL union carries the sketch family's usual ~1%
    relative error versus a single-pass sketch (a DataSketches union
    gadget is not bit-identical to a directly-built sketch), which is
    the standard, bounded trade for mergeability."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("column").agg(
        F.sum("n").alias("n"),
        F.sum("nulls").alias("nulls"),
        F.sum("s").alias("s"),
        F.sum("sq").alias("sq"),
        F.sum("n_num").alias("n_num"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.hll_union_agg("hll").alias("hll"),
    )


def finalize_state(state: DataFrame) -> DataFrame:
    """Derive the profile view from a (merged) state frame — same
    formulas as the batch registry (null_ratio, numeric mean/std,
    sketch-estimated distinct)."""
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    sq = F.col("sq").cast("double")
    nn = F.col("n_num").cast("double")
    return state.select(
        "column",
        n.alias("row_num"),
        (F.col("nulls").cast("double") / F.nullif(n, F.lit(0.0))).alias("null_ratio"),
        F.hll_sketch_estimate("hll").cast("double").alias("distinct_num_approx"),
        F.col("mn").alias("numeric_min"),
        F.col("mx").alias("numeric_max"),
        (s / F.nullif(nn, F.lit(0.0))).alias("numeric_mean"),
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                (sq - s * s / F.nullif(nn, F.lit(0.0)))
                / F.nullif(nn - F.lit(1.0), F.lit(0.0)),
            )
        ).alias("numeric_std"),
    )


class IncrementalProfiler:
    """foreachBatch sink maintaining a mergeable stats table on disk,
    committed through ``streaming.committed``: a batch id already
    applied is skipped, so a replay never counts a batch twice."""

    def __init__(self, spark: SparkSession, state_dir: str, columns: list[str]):
        self.spark = spark
        self.state_dir = state_dir
        self.columns = columns
        self._state = CommittedState(spark, state_dir)

    # -- foreachBatch hook -------------------------------------------------

    @scope()
    def update(self, batch: DataFrame, batch_id: int) -> None:
        self._state.fold(
            "state", _partial_stats(batch, self.columns), merge_partials, batch_id
        )

    # -- profile view ------------------------------------------------------

    def finalize(self) -> DataFrame:
        """Derive profile stats from the merged state — same formulas as
        the batch registry (null_ratio, numeric_mean/std, distinct)."""
        return finalize_state(self._state.read("state"))


def stream_profile(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    columns: list[str] | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming DataFrame into the incremental profiler.

    Returns ``(StreamingQuery, IncrementalProfiler)``; the query drains
    what the source holds and stops (the caller awaits termination).
    """
    cols = columns or stream.columns
    prof = IncrementalProfiler(spark, state_dir, cols)
    return start_sink(stream, prof.update, state_dir, checkpoint_dir), prof
