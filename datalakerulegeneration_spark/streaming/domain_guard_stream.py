"""Streaming domain guard: blocklist + per-registered-domain caps over
an arriving document stream — the arrival-order twin of the batch
``ops.domains.blocklist_filter`` + ``ops.domains.domain_cap`` pair
(batch caps keep the N smallest-hash members of each domain; a stream
can't see members that haven't arrived, so admission is greedy by
arrival, deterministic within each micro-batch).

Per micro-batch: registered domains extract map-side (the same
public-suffix expression fold as the batch ops), blocklisted domains
drop statelessly, and each domain admits documents in deterministic
``md5(salt:id)`` order until its whole-stream admitted count reaches
``max_per_domain``. NULL-domain documents (no URL, IP hosts, bare
public suffixes) are a capped group like any other — exempt them
upstream if unattributed docs must all survive.

State is the (domain, n_admitted) count table — O(distinct domains)
rows, independent of stream history length. Each batch commits it
together with its survivors through ``streaming.committed`` (the shared
protocol), and a batch id already applied is skipped: a crash or a
replay neither re-admits nor loses a batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import scope
from datalakerulegeneration_spark.ops.domains import (
    blocklist_filter,
    with_registered_domain,
)
from datalakerulegeneration_spark.ops.sampling import _hash_bucket
from datalakerulegeneration_spark.streaming.committed import CommittedState, start_sink

_STATE_SCHEMA = "domain string, n_admitted bigint"


class DomainGuard:
    """foreachBatch sink admitting at most ``max_per_domain`` documents
    per registered domain across the whole stream history, after
    dropping blocklisted domains."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        max_per_domain: int,
        blocked_domains=(),
        id_col: str = "doc_id",
        url_col: str = "url",
        suffixes=None,
        salt: str = "domain_cap",
    ):
        if max_per_domain < 1:
            raise ValueError(f"max_per_domain must be >= 1, got {max_per_domain}")
        self.state_dir = state_dir
        self.max_per_domain = int(max_per_domain)
        self.blocked = sorted(set(blocked_domains))
        self.id_col = id_col
        self.url_col = url_col
        self.suffixes = suffixes
        self.salt = salt
        self._state = CommittedState(spark, state_dir)

    def admitted_counts(self) -> DataFrame:
        """Whole-stream (domain, n_admitted) — empty before batch 0."""
        return self._state.read("state", _STATE_SCHEMA)

    # -- foreachBatch hook -------------------------------------------------

    @scope()
    def update(self, batch: DataFrame, batch_id: int) -> None:
        if self._state.applied(batch_id):
            return
        prior = self.admitted_counts()
        d = batch
        if self.blocked:
            d = blocklist_filter(d, self.url_col, self.blocked, self.suffixes)
        d = with_registered_domain(d, self.url_col, "_dom", self.suffixes)
        w = Window.partitionBy("_dom").orderBy(
            _hash_bucket(self.id_col, self.salt).asc(), F.col(self.id_col).asc()
        )
        ranked = d.withColumn("_rn", F.row_number().over(w)).join(
            F.broadcast(
                prior.select(F.col("domain").alias("_pdom"), "n_admitted")
            ),
            F.col("_dom").eqNullSafe(F.col("_pdom")),
            "left",
        )
        adm = ranked.where(
            F.coalesce(F.col("n_admitted"), F.lit(0)) + F.col("_rn")
            <= F.lit(self.max_per_domain)
        )
        # the per-domain totals derive from the survivors as written
        tx = self._state.begin()
        written = tx.write("survivors", adm.select(*batch.columns, "_dom"))
        batch_counts = written.groupBy(F.col("_dom").alias("domain")).agg(
            F.count(F.lit(1)).cast("bigint").alias("_n_new")
        )
        new_state = (
            prior.join(batch_counts, prior["domain"].eqNullSafe(batch_counts["domain"]), "full")
            .select(
                F.coalesce(prior["domain"], batch_counts["domain"]).alias("domain"),
                (
                    F.coalesce(prior["n_admitted"], F.lit(0))
                    + F.coalesce(F.col("_n_new"), F.lit(0))
                )
                .cast("bigint")
                .alias("n_admitted"),
            )
        )
        tx.write("state", new_state, replace=True)
        tx.commit(batch_id)

    def survivors(self) -> DataFrame:
        return self._state.read("survivors").drop("_dom")


def domain_guard_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    max_per_domain: int,
    blocked_domains=(),
    id_col: str = "doc_id",
    url_col: str = "url",
    suffixes=None,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming document DataFrame into the domain guard;
    returns ``(StreamingQuery, DomainGuard)``."""
    g = DomainGuard(
        spark, state_dir, max_per_domain, blocked_domains, id_col, url_col, suffixes
    )
    return start_sink(stream, g.update, state_dir, checkpoint_dir), g
