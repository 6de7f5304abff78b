"""Streaming ANN ingestion: embeddings arrive as a stream, the
persisted PQ/IVF-PQ index absorbs them micro-batch by micro-batch.

The batch pattern's streaming twin (same shape as
``dedup_index_stream``): each micro-batch flows through
``ops.ann_index.pq_index_append`` — encode against the FROZEN
codebooks, route through the frozen centroids, append codes. The
id anti-join inside append makes a replayed batch a no-op, so the
sink is idempotent under foreachBatch's at-least-once contract; the
index outlives Spark's checkpoint, so a restarted or entirely new
stream keeps extending the same searchable index, and searches
(``pq_search_index``) can run between batches against whatever has
been admitted so far. Each append commits through
``streaming.committed`` (the shared protocol), so a search issued
WHILE a batch is mid-append sees the index before the batch or after
it, never a partially committed batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datalakerulegeneration_spark.ops.ann_index import pq_index_append
from datalakerulegeneration_spark.streaming.committed import start_sink


class AnnIndexIngester:
    """foreachBatch sink appending each micro-batch to the persisted
    PQ index at ``path`` (which must already exist — build it once
    with ``pq_build_index``; ingestion never retrains codebooks)."""

    def __init__(self, spark: SparkSession, path: str, id_col: str = "vec_id", vec_col: str = "embedding"):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col

    def update(self, batch: DataFrame, batch_id: int) -> None:
        pq_index_append(batch, self.path, self.id_col, self.vec_col)


def ann_ingest_stream(
    spark: SparkSession,
    stream: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
):
    """Wire a streaming embedding DataFrame into the persisted index;
    returns ``(StreamingQuery, AnnIndexIngester)`` — await the query,
    then search with ``pq_search_index``."""
    ing = AnnIndexIngester(spark, path, id_col, vec_col)
    return start_sink(stream, ing.update, path, checkpoint_dir), ing
