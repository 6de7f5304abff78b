"""Streaming token-budget admission: ingest documents until the
budget is spent, then stop admitting — "give me the first N tokens of
the stream", the arrival-order twin of the batch
``ops.sampling.token_budget_select`` (which ranks by quality; a
stream can't rank what hasn't arrived, so admission is greedy by
arrival, deterministic within each micro-batch).

Per micro-batch: documents take the deterministic hash order
(``ops.packing.pack_sequences``' two-level exclusive prefix sum — no
task sorts the batch), and a document is admitted iff its stream
offset + weight fits the remaining budget. Within a batch an
oversized document is skipped but still advances the running position
— the same documented cutoff convention as ``token_budget_select``;
across batches only ADMITTED tokens consume budget. Token weights use
the regex-proxy default or a plugged real tokenizer
(``ops.tokenize.TokenizerFn``) — budget admission is exactly the
accounting decision the tokenizer seam exists for.

State is one (admitted_tokens) row. Each batch commits it together
with its survivors through ``streaming.committed`` (the shared
protocol), and a batch id already applied is skipped: a crash or a
replay neither re-admits nor loses a batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import scope
from datalakerulegeneration_spark.ops import packing
from datalakerulegeneration_spark.streaming.committed import CommittedState, start_sink


class BudgetAdmitter:
    """foreachBatch sink admitting documents until ``budget`` tokens
    have been admitted across the whole stream history."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        budget: int,
        id_col: str = "doc_id",
        text_col: str = "text",
        tokenizer_fn=None,
    ):
        if budget <= 0:
            raise ValueError("budget must be positive")
        self.spark = spark
        self.state_dir = state_dir
        self.budget = int(budget)
        self.id_col = id_col
        self.text_col = text_col
        self.tokenizer_fn = tokenizer_fn
        self._state = CommittedState(spark, state_dir)

    def admitted_tokens(self) -> int:
        row = self._state.read("state", "admitted_tokens bigint").first()
        return 0 if row is None else row["admitted_tokens"]

    # -- foreachBatch hook -------------------------------------------------

    @scope()
    def update(self, batch: DataFrame, batch_id: int) -> None:
        if self._state.applied(batch_id):
            return
        cum = self.admitted_tokens()
        remaining = self.budget - cum
        admitted_w = 0
        tx = self._state.begin()
        if remaining > 0:
            from datalakerulegeneration_spark.ops.tokenize import token_count_col

            carry = tuple(c for c in batch.columns if c != self.id_col)
            d = batch.withColumn(
                "_w",
                F.coalesce(
                    token_count_col(self.text_col, self.tokenizer_fn), F.lit(0)
                ),
            )
            packed = packing.pack_sequences(
                d,
                self.id_col,
                "_w",
                seq_len=1 << 40,
                salt="budget",
                carry_cols=carry,
            )
            adm = packed.where(
                F.col("offset") + F.col("weight") <= F.lit(remaining)
            ).select(F.col("id").alias(self.id_col), *carry, "weight")
            # the token total derives from the survivors as written
            written = tx.write("survivors", adm)
            admitted_w = written.agg(
                F.coalesce(F.sum("weight"), F.lit(0)).cast("bigint")
            ).first()[0]
        tx.write(
            "state",
            self.spark.createDataFrame(
                [(int(cum + admitted_w),)], "admitted_tokens bigint"
            ),
            replace=True,
        )
        tx.commit(batch_id)

    def survivors(self) -> DataFrame:
        return self._state.read("survivors").drop("weight")


def budget_admission_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer_fn=None,
    checkpoint_dir: str | None = None,
):
    """Wire a streaming document DataFrame into the budget admitter;
    returns ``(StreamingQuery, BudgetAdmitter)``."""
    adm = BudgetAdmitter(spark, state_dir, budget, id_col, text_col, tokenizer_fn)
    return start_sink(stream, adm.update, state_dir, checkpoint_dir), adm
