"""Streaming URL-grain dedup with a PERSISTED canonical-URL index.

The streaming twin of ``ops.domains.url_dedup`` (r8), composed from
the same two proven pieces: canonical-URL extraction (pure map-side
expression work — scheme/host/port/fragment/tracking-param/slash
normalization) and ``dedup_index_stream``'s persisted-key pattern.
Each micro-batch keeps its smallest-id document per canonical URL,
drops documents whose canonical URL any PREVIOUS batch already
admitted (anti-join against the on-disk key index), appends survivors
to the output corpus and their keys to the index. Because the index
IS parquet, a restarted (or entirely new) stream keeps deduplicating
against everything any previous run admitted.

No-URL documents all survive (no canonical key is not a duplicate key
— the batch op's contract). For replay idempotency they are indexed
under a synthetic per-document key (``\\x00nourl:<id>`` — the NUL
prefix cannot collide with a real canonical URL, which starts with a
scheme letter), so a fully replayed batch is a no-op for EVERY row,
keyed and keyless alike, under foreachBatch's at-least-once contract.

Survivors and their keys commit together through
``streaming.committed`` (the shared protocol); the anti-join against
the committed index makes a replayed batch admit nothing.

At 100 TB the index holds one short string per admitted document; the
per-batch cost is canonicalization riding the batch scan plus one
key-grain anti-join. State never lives in Spark's checkpoint — only
source offsets do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import scope
from datalakerulegeneration_spark.ops.domains import (
    DEFAULT_DROP_PARAMS,
    with_canonical_url,
)
from datalakerulegeneration_spark.streaming.committed import CommittedState, start_sink

_INDEX_SCHEMA = "canon_key string"
_NOURL_PREFIX = "\x00nourl:"


def canon_key(id_col: str) -> Column:
    """The dedup key: the canonical URL, or a synthetic per-document
    key for rows without one."""
    return F.coalesce(
        F.col("canonical_url"),
        F.concat(F.lit(_NOURL_PREFIX), F.col(id_col).cast("string")),
    )


class UrlDeduper:
    """foreachBatch sink maintaining the canonical-key index + the
    survivor corpus (batch columns + ``canonical_url``)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str = "doc_id",
        url_col: str = "url",
        strip_www: bool = True,
        drop_params=DEFAULT_DROP_PARAMS,
    ):
        self.id_col = id_col
        self.url_col = url_col
        self.strip_www = strip_www
        self.drop_params = tuple(drop_params)
        self._state = CommittedState(spark, state_dir)

    # -- foreachBatch hook -------------------------------------------------

    @scope()
    def update(self, batch: DataFrame, batch_id: int) -> None:
        d = with_canonical_url(
            batch, self.url_col, "canonical_url", self.strip_www, self.drop_params
        ).withColumn("_canon_key", canon_key(self.id_col))
        # within-batch keeper: smallest id per key. NULL-canonical rows
        # carry unique synthetic keys, so no skewed NULL partition —
        # the same property the batch op gets from its filter+union
        w = Window.partitionBy("_canon_key").orderBy(F.col(self.id_col).asc())
        kept = (
            d.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        # cross-batch: keys any previous batch admitted are dropped.
        # NO .distinct() on the index side: left_anti is insensitive to
        # duplicate right keys (and the index is unique by construction
        # — one row per admitted key), so a distinct would shuffle the
        # whole accumulated index every batch for nothing (r9 review)
        surv = kept.join(
            self.index().select(F.col("canon_key").alias("_canon_key")),
            "_canon_key",
            "left_anti",
        ).drop("_canon_key")
        # the keys derive from the survivors as written
        tx = self._state.begin()
        written = tx.write("survivors", surv)
        tx.write("canon_index", written.select(canon_key(self.id_col).alias("canon_key")))
        tx.commit(batch_id)

    # -- views -------------------------------------------------------------

    def survivors(self) -> DataFrame:
        return self._state.read("survivors")

    def index(self) -> DataFrame:
        return self._state.read("canon_index", _INDEX_SCHEMA)


def url_dedup_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
    strip_www: bool = True,
    drop_params=DEFAULT_DROP_PARAMS,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming document DataFrame into the persisted
    canonical-URL deduper; returns ``(StreamingQuery, UrlDeduper)`` —
    await the query, then read results through the deduper's views."""
    ud = UrlDeduper(spark, state_dir, id_col, url_col, strip_www, drop_params)
    return start_sink(stream, ud.update, state_dir, checkpoint_dir), ud
