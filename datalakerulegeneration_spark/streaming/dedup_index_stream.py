"""Streaming incremental dedup with a PERSISTED digest index.

``streaming.windows.dedup_stream`` drops duplicates arriving WITHIN a
watermark window; this module is the other half of the production
story: an append-only corpus whose dedup index survives restarts. Each
micro-batch is checked against the on-disk index
(``ops.dedup.incremental_dedup_against_index`` — digest-keyed anti
join, document bodies never shuffle), survivors are appended to the
output corpus, and their digests are appended to the index. Because
the index IS parquet, a restarted (or entirely new) stream continues
deduplicating against everything any previous run admitted — state
outlives Spark's own checkpoint, which only tracks source offsets.

At 100 TB the index holds 32-char digests (≈ 0.04% of the corpus
bytes); the per-batch cost is one anti join keyed by digest against
it. The same ``IncrementalDeduper.update`` hook also serves plain
batch jobs (the nightly-append flow) — streaming and batch share one
code path, like the incremental profiler.

Survivors and their digests commit together through
``streaming.committed`` (the shared protocol); the anti-join against
the committed index makes a replayed batch admit nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datalakerulegeneration_spark.materialize import scope
from datalakerulegeneration_spark.ops.dedup import incremental_dedup_against_index
from datalakerulegeneration_spark.streaming.committed import CommittedState, start_sink

_INDEX_SCHEMA = "text_digest string"


class IncrementalDeduper:
    """foreachBatch sink maintaining the digest index + survivor corpus."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.id_col = id_col
        self.text_col = text_col
        self._state = CommittedState(spark, state_dir)

    # -- foreachBatch hook -------------------------------------------------

    @scope()
    def update(self, batch: DataFrame, batch_id: int) -> None:
        surv = incremental_dedup_against_index(
            batch, self.index(), self.id_col, self.text_col
        )
        # the digests derive from the survivors as written: per-batch
        # work stays O(batch), and the two outputs cannot disagree
        tx = self._state.begin()
        written = tx.write("survivors", surv)
        tx.write("digest_index", written.select("text_digest"))
        tx.commit(batch_id)

    # -- views -------------------------------------------------------------

    def survivors(self) -> DataFrame:
        return self._state.read("survivors")

    def index(self) -> DataFrame:
        return self._state.read("digest_index", _INDEX_SCHEMA)


def incremental_dedup_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
):
    """Wire a streaming DataFrame into the persisted-index deduper;
    returns ``(StreamingQuery, IncrementalDeduper)`` — await the query,
    then read results through the deduper's views."""
    dd = IncrementalDeduper(spark, state_dir, id_col, text_col)
    return start_sink(stream, dd.update, state_dir, checkpoint_dir), dd
