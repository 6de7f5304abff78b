"""Composed streaming curation with TWO persisted indexes, exactly-once.

``curate_stream`` is the watermark-state prefix of the batch flagship;
``url_dedup_stream`` and ``dedup_index_stream`` each maintain ONE
persisted index. This module is the COMPOSITION a production ingest
pipeline actually runs: quality gate → canonical-URL dedup (index 1) →
content-digest dedup (index 2) → survivor corpus. A batch's three
outputs (survivors, url keys, digests) commit together in one flip
through ``streaming.committed`` (the shared protocol) — were index 1
committed before index 2 saw the batch, a replay would find the whole
batch URL-deduped and starve stage 2 — and a batch id already applied
is skipped.

CONTINUITY CONTRACT: batch-id-keyed idempotence (the standard Delta
``(appId, batchId)`` transactional-sink convention) requires the state
dir and the stream CHECKPOINT to live and die together (the default
checkpoint lives inside the state dir). Restarting against the same
state dir with a FRESH checkpoint is safe only as a full replay of the
UNCHANGED source; if new source data has also arrived it would be
re-batched under already-committed ids and skipped.

Scale shape: per batch, one map-side canonical-key/quality/digest
projection, one window per within-batch keeper, two digest-keyed
broadcast-able anti joins against the committed index frames (32-char
keys — ≈0.04% of corpus bytes at 100 TB), three O(batch) parquet
writes. The committed-dir union is a file-listing concern only; at
compaction time the versions coalesce like any parquet table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from datalakerulegeneration_spark.materialize import scope
from datalakerulegeneration_spark.ops.domains import (
    DEFAULT_DROP_PARAMS,
    with_canonical_url,
)
from datalakerulegeneration_spark.ops import textqa
from datalakerulegeneration_spark.streaming.committed import CommittedState, start_sink
from datalakerulegeneration_spark.streaming.url_dedup_stream import canon_key

_URL_INDEX_SCHEMA = "canon_key string"
_DIGEST_INDEX_SCHEMA = "text_digest string"


class CurateIndexedDeduper:
    """foreachBatch sink: quality gate → URL dedup → content dedup,
    two persisted indexes, one commit per batch."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str = "doc_id",
        url_col: str = "url",
        text_col: str = "text",
        quality_min: float | None = None,
        strip_www: bool = True,
        drop_params=DEFAULT_DROP_PARAMS,
    ):
        self.state_dir = state_dir
        self.id_col = id_col
        self.url_col = url_col
        self.text_col = text_col
        self.quality_min = quality_min
        self.strip_www = strip_www
        self.drop_params = tuple(drop_params)
        self._state = CommittedState(spark, state_dir)

    # -- foreachBatch hook -------------------------------------------------

    @scope()
    def update(self, batch: DataFrame, batch_id: int) -> None:
        if self._state.applied(batch_id):
            return
        d = batch
        if self.quality_min is not None:
            d = d.where(
                textqa.quality_col(self.text_col) >= F.lit(float(self.quality_min))
            )
        # stage 1: canonical-URL dedup (keyless rows get synthetic
        # unique keys — full replays must stay no-ops, url_dedup_stream
        # semantics)
        d = with_canonical_url(
            d, self.url_col, "canonical_url", self.strip_www, self.drop_params
        ).withColumn("_canon_key", canon_key(self.id_col))
        w_url = Window.partitionBy("_canon_key").orderBy(F.col(self.id_col).asc())
        kept = (
            d.withColumn("_rn", F.row_number().over(w_url))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        s1 = kept.join(
            self.url_index().select(F.col("canon_key").alias("_canon_key")),
            "_canon_key",
            "left_anti",
        )
        # stage 2: content-digest dedup OVER STAGE-1 SURVIVORS
        s1 = s1.withColumn("_digest", F.md5(F.col(self.text_col)))
        w_dig = Window.partitionBy("_digest").orderBy(F.col(self.id_col).asc())
        s2 = (
            s1.withColumn("_rn", F.row_number().over(w_dig))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        s2 = s2.join(
            self.digest_index().select(F.col("text_digest").alias("_digest")),
            "_digest",
            "left_anti",
        )
        tx = self._state.begin()
        written = tx.write("survivors", s2.drop("_canon_key", "_digest"))
        tx.write(
            "digest_index",
            written.select(F.md5(F.col(self.text_col)).alias("text_digest")),
        )
        # url keys come from s1 (every key this batch's URL stage
        # admitted — content-duplicate docs still CLAIM their URL, the
        # standalone UrlDeduper semantics); s1 is deterministic given
        # (batch, committed state)
        tx.write("url_index", s1.select(F.col("_canon_key").alias("canon_key")))
        tx.commit(batch_id)

    # -- views (committed state only) --------------------------------------

    def survivors(self) -> DataFrame:
        return self._state.read("survivors")

    def url_index(self) -> DataFrame:
        return self._state.read("url_index", _URL_INDEX_SCHEMA)

    def digest_index(self) -> DataFrame:
        return self._state.read("digest_index", _DIGEST_INDEX_SCHEMA)


def curate_indexed_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str | None = None,
    **kw,
):
    """Wire the composed sink to a stream; returns
    ``(StreamingQuery, CurateIndexedDeduper)``."""
    dd = CurateIndexedDeduper(spark, state_dir, **kw)
    return start_sink(stream, dd.update, state_dir, checkpoint_dir), dd
