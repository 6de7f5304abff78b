"""Cell-level P/R/F1 vs ground truth (reference J2, A1-A2).

Predicted violations and actual errors are both ``(column, row_id)``
cell sets; TP/FP/FN are joins (inner / left_anti), never driver-side
set algebra (reference utils/metrics.py:60-68, 142-157).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_errors(violations: DataFrame) -> DataFrame:
    """Distinct predicted error cells (reference utils/metrics.py:11-19
    unions per-rule index lists; here a distinct over cell grain)."""
    return violations.select("column", "row_id").distinct()


def cell_metrics(violations: DataFrame, truth: DataFrame) -> dict:
    """Overall precision/recall/F1 of predicted vs actual error cells.

    ONE full-outer join + one aggregate (a single job) — the former
    three-join formulation (inner + two anti) shuffled both cell sets
    three times for the same numbers.
    """
    pred = merge_errors(violations).withColumn("p", F.lit(1))
    act = truth.select("column", "row_id").distinct().withColumn("a", F.lit(1))
    j = pred.join(act, ["column", "row_id"], "full")
    row = j.agg(
        F.sum(F.when(F.col("p").isNotNull() & F.col("a").isNotNull(), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("p").isNotNull() & F.col("a").isNull(), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("p").isNull() & F.col("a").isNotNull(), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp = int(row["tp"] or 0)
    fp = int(row["fp"] or 0)
    fn = int(row["fn"] or 0)
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def error_type_breakdown(
    violations: DataFrame, truth: DataFrame, error_types: DataFrame
) -> DataFrame:
    """Per-error-type detection recall (reference
    break_down_analysis/break_down_eds.py annotates each result cell
    with its error type from a per-dataset error_types table, then
    aggregates). ``error_types`` is ``(column, row_id, error_type)``
    cell grain; unannotated truth cells report as 'unknown'.

    Returns ``(error_type, n_errors, n_detected, recall)`` — two joins
    and one aggregation, no per-row loops.
    """
    pred = merge_errors(violations).withColumn("p", F.lit(1))
    act = truth.select("column", "row_id").distinct()
    j = (
        act.join(error_types, ["column", "row_id"], "left")
        .join(pred, ["column", "row_id"], "left")
        .withColumn("error_type", F.coalesce(F.col("error_type"), F.lit("unknown")))
    )
    per = j.groupBy("error_type").agg(
        F.count(F.lit(1)).alias("n_errors"),
        F.sum(F.when(F.col("p").isNotNull(), 1).otherwise(0)).alias("n_detected"),
    )
    return per.select(
        "error_type",
        "n_errors",
        "n_detected",
        (F.col("n_detected") / F.nullif(F.col("n_errors"), F.lit(0))).alias("recall"),
    )


def column_metrics(violations: DataFrame, truth: DataFrame) -> DataFrame:
    """Per-column P/R/F1 as a DataFrame (reference utils/metrics.py:142-157).

    One full-outer join at (column, row_id) grain + one aggregation —
    no per-column loops.
    """
    pred = merge_errors(violations).withColumn("p", F.lit(1))
    act = truth.select("column", "row_id").distinct().withColumn("a", F.lit(1))
    j = pred.join(act, ["column", "row_id"], "full")
    per = j.groupBy("column").agg(
        F.sum(F.when(F.col("p").isNotNull() & F.col("a").isNotNull(), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("p").isNotNull() & F.col("a").isNull(), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("p").isNull() & F.col("a").isNotNull(), 1).otherwise(0)).alias("fn"),
    )
    prec = F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
    rec = F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
    return per.select(
        "column",
        "tp",
        "fp",
        "fn",
        F.coalesce(prec, F.lit(0.0)).alias("precision"),
        F.coalesce(rec, F.lit(0.0)).alias("recall"),
        F.coalesce(2 * prec * rec / F.nullif(prec + rec, F.lit(0.0)), F.lit(0.0)).alias("f1"),
    )


def cleaning_scores(corrections: DataFrame, truth: DataFrame) -> DataFrame:
    """The reference's full cleaning score vector
    ``[ed_p, ed_r, ed_f, ec_p, ec_r, ec_f]`` (dataset.py:86-110) as one
    row: detection counts a proposed cell that IS an actual error;
    correction additionally requires the proposed value to equal the
    clean value (string compare, the reference's all-string frames).

    ``corrections``: (column, row_id, proposed_value);
    ``truth``: cell_diff output (column, row_id, clean_value, ...).
    One join at cell grain + two scalar aggregates — no driver dicts.
    """
    t = truth.select("column", "row_id", "clean_value").withColumn("_hit", F.lit(1))
    j = corrections.join(t, ["column", "row_id"], "left")
    counts = j.agg(
        F.count(F.lit(1)).alias("output_size"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("ed_tp"),
        F.sum(
            F.when(
                F.col("_hit").isNotNull()
                & (
                    F.coalesce(F.col("proposed_value"), F.lit(""))
                    == F.coalesce(F.col("clean_value"), F.lit(""))
                ),
                1,
            ).otherwise(0)
        ).alias("ec_tp"),
    )
    n_actual = truth.select("column", "row_id").distinct().agg(
        F.count(F.lit(1)).alias("n_actual")
    )
    c = counts.join(F.broadcast(n_actual))
    ed_p = F.when(F.col("output_size") == 0, 0.0).otherwise(F.col("ed_tp") / F.col("output_size"))
    ed_r = F.when(F.col("n_actual") == 0, 0.0).otherwise(F.col("ed_tp") / F.col("n_actual"))
    ec_p = F.when(F.col("output_size") == 0, 0.0).otherwise(F.col("ec_tp") / F.col("output_size"))
    ec_r = F.when(F.col("n_actual") == 0, 0.0).otherwise(F.col("ec_tp") / F.col("n_actual"))

    def f1(p, r):
        return F.when(p + r == 0.0, 0.0).otherwise(2 * p * r / (p + r))

    return c.select(
        "output_size",
        "n_actual",
        ed_p.alias("ed_p"),
        ed_r.alias("ed_r"),
        f1(ed_p, ed_r).alias("ed_f"),
        ec_p.alias("ec_p"),
        ec_r.alias("ec_r"),
        f1(ec_p, ec_r).alias("ec_f"),
    )
