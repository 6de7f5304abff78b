"""Streaming NEAR-dup dedup with a persisted MinHash signature index.

``dedup_index_stream`` maintains exact-digest state; this module is its
near-duplicate sibling: the on-disk index holds the admitted documents'
BANDED MinHash signatures (``ops.dedup.band_signatures`` rows —
(doc_id, band, bh)), so each micro-batch can ask "does anything already
admitted near-dup this?" with one equi-join on (band, bh) plus an
exact-Jaccard verify of only the collided candidates, then resolve
near-dups WITHIN the batch by the same greedy rule, append survivors,
and append THEIR bands to the index. Because the index is parquet, a
restarted (or brand-new) stream keeps deduplicating against everything
any previous run admitted.

**Semantics: greedy leader admission.** A document is admitted iff no
ALREADY-ADMITTED document near-dups it (shingle-Jaccard ≥ threshold),
processing batches in arrival order and documents within a batch in
ascending id order. When batch boundaries respect id order this is
EXACTLY ``ops.dedup.minhash_greedy_keepset`` over the concatenated
corpus — the batch twin the parity tests pin — and unlike
component-collapse it never drops a document reachable only through a
chain of already-dropped intermediaries. Documents with NULL text or
fewer than ``n`` tokens produce no signature and are always admitted
(exactly as they never enter the batch LSH pipeline); they carry no
index rows.

Scale shape per batch: the index probe is keyed by (band, bh) — LSH
makes band hashes near-uniform, so the join is shuffle-friendly; only
COLLIDED admitted docs are re-shingled for the verify (a semi-join
against the survivors corpus, never a full re-scan); the within-batch
pass runs the digest-grain LSH machinery over the batch alone. Index
size is bands × 48 bytes per admitted doc — ~0.05% of corpus bytes at
crawl document sizes.

Survivors and their bands commit together through
``streaming.committed`` (the shared protocol). A replayed committed
batch self-collides with its own index rows at Jaccard 1.0, and its
signature-less docs are already survivors by id, so it admits nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import scope
from datalakerulegeneration_spark.ops.dedup import (
    N_BANDS,
    N_HASHES,
    band_signatures,
    greedy_over_edges,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)
from datalakerulegeneration_spark.streaming.committed import CommittedState, start_sink

_INDEX = "band_index"
_INDEX_SCHEMA = "doc_id string, band int, bh string"


class NearDupDeduper:
    """foreachBatch sink maintaining the signature index + survivor
    corpus. Also serves plain batch jobs (the nightly-append flow) via
    direct ``update`` calls — streaming and batch share one code path."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
        n: int = 3,
        k: int = N_HASHES,
        bands: int = N_BANDS,
    ):
        self._state = CommittedState(spark, state_dir)
        # every committed band version sits in this dir (the manifest
        # lives one level up), so it reads as one parquet dataset
        self.index_path = os.path.join(state_dir, _INDEX)
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.n = n
        self.k = k
        self.bands = bands

    def _doc_bands(self, docs: DataFrame) -> DataFrame:
        """(doc_id string, band, bh) for every doc with ≥ n tokens."""
        sh = shingles(docs, self.id_col, self.text_col, self.n)
        return band_signatures(minhash_signatures(sh, self.k), self.k, self.bands).select(
            F.col("id").cast("string").alias("doc_id"), "band", "bh"
        )

    # -- foreachBatch hook -------------------------------------------------

    @scope()
    def update(self, batch: DataFrame, batch_id: int) -> None:
        idc, txc = self.id_col, self.text_col
        base = batch.select(
            F.col(idc).alias("id"),
            F.col(txc).alias("txt"),
            F.md5(F.col(txc).cast("binary")).alias("dg"),
        )
        nn = base.where(F.col("txt").isNotNull())
        # digest grain: one signature per distinct batch text (task-1
        # collapse — an identical-text flood inside one batch probes the
        # index once, not N times)
        dg_docs = nn.groupBy("dg").agg(F.min("txt").alias("txt"), F.min("id").alias("rep"))
        sh_b = shingles(dg_docs, "dg", "txt", self.n)
        sigs_b = minhash_signatures(sh_b, self.k)
        bands_b = band_signatures(sigs_b, self.k, self.bands)
        shingled_dgs = sigs_b.select(F.col("id").alias("dg"))

        # 1. cross-batch probe: batch digests colliding with admitted docs
        cand = (
            bands_b.withColumnRenamed("id", "dg")
            .join(self.index(), ["band", "bh"])
            .select("dg", "doc_id")
            .distinct()
        )
        # 2. exact-Jaccard verify of collided pairs only: re-shingle the
        #    collided ADMITTED docs (semi-join into survivors) and score
        #    against the batch digest shingles under disjoint 'a:'/'b:'
        #    key prefixes ('a' < 'b' keeps jaccard_pairs' ordering)
        committed = bool(self._state.paths("survivors"))
        if committed:
            surv_cand = self.survivors().join(
                cand.select(F.col("doc_id").alias("__cid")).distinct(),
                F.col(idc).cast("string") == F.col("__cid"),
                "left_semi",
            )
            sh_a = shingles(
                surv_cand.select(
                    F.concat(F.lit("a:"), F.col(idc).cast("string")).alias("id"),
                    F.col(txc),
                ),
                "id",
                txc,
                self.n,
            )
            sh_bp = sh_b.select(F.concat(F.lit("b:"), F.col("id")).alias("id"), "shingle")
            jac = jaccard_pairs(
                sh_a.unionByName(sh_bp),
                cand.select(
                    F.concat(F.lit("a:"), F.col("doc_id")).alias("id_a"),
                    F.concat(F.lit("b:"), F.col("dg")).alias("id_b"),
                ),
            ).where(F.col("jaccard") >= self.threshold)
            dropped = jac.select(F.expr("substring(id_b, 3)").alias("dg")).distinct()
        else:
            dropped = cand.select("dg").limit(0)

        # 3. within-batch: greedy leader over the remaining digests'
        #    LSH pair graph, ordered by min member id
        rem = dg_docs.join(shingled_dgs, "dg").join(dropped, "dg", "left_anti")
        sigs_rem = sigs_b.join(rem.select(F.col("dg").alias("id")), "id")
        dpairs = jaccard_pairs(sh_b, lsh_candidate_pairs(sigs_rem, self.k, self.bands)).where(
            F.col("jaccard") >= self.threshold
        )
        ra = rem.select(F.col("dg").alias("id_a"), F.col("rep").alias("rep_a"))
        rb = rem.select(F.col("dg").alias("id_b"), F.col("rep").alias("rep_b"))
        edges = (
            dpairs.join(ra, "id_a").join(rb, "id_b").select(
                F.col("rep_a").alias("src"), F.col("rep_b").alias("dst")
            )
        )
        kept = greedy_over_edges(rem.select(F.col("rep").alias("v")), edges)
        kept_ids = kept.where(F.col("kept")).select(F.col("v").alias("id"))

        # 4. admitted = kept reps + signature-less docs (NULL text or
        #    < n tokens — no pairs, always admitted, no index rows)
        sigless = base.join(
            nn.join(shingled_dgs, "dg").select("id"), "id", "left_anti"
        ).select("id")
        if committed:
            # no bands to self-collide with: a replayed batch finds its
            # signature-less docs among the survivors by id instead
            sigless = sigless.join(
                self.survivors().select(F.col(idc).alias("id")), "id", "left_anti"
            )
        admitted = base.join(
            kept_ids.unionByName(sigless).distinct(), "id", "left_semi"
        ).select(F.col("id").alias(idc), F.col("txt").alias(txc))

        # 5. bands recompute deterministically from the survivors as
        #    written
        tx = self._state.begin()
        written = tx.write("survivors", admitted)
        tx.write(_INDEX, self._doc_bands(written))
        tx.commit(batch_id)

    # -- views -------------------------------------------------------------

    def survivors(self) -> DataFrame:
        return self._state.read("survivors")

    def index(self) -> DataFrame:
        return self._state.read(_INDEX, _INDEX_SCHEMA)


def neardup_dedup_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming DataFrame into the persisted-signature near-dup
    deduper; returns ``(StreamingQuery, NearDupDeduper)``."""
    dd = NearDupDeduper(spark, state_dir, id_col, text_col, threshold)
    return start_sink(stream, dd.update, state_dir, checkpoint_dir), dd
