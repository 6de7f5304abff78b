"""Robust (median/MAD) statistics on exact distributed quantiles.

The reference's outlier models are mean/std-based (dboost Gaussian,
3-sigma — ``dboost/models.py``); median/MAD is the standard robust
complement a data-quality engine needs (50% breakdown point vs 0% for
the mean), provided here as a scale extension.

The quantile engine is EXACT but never buffers values: Spark's own
``percentile()`` aggregate collects every value of the group into one
task's memory (an OOM at 100 TB), and an unpartitioned rank window
would sort the whole domain in one task. Instead:

1. value-grain ``groupBy(v).count()`` — the only corpus-sized shuffle,
   state O(distinct values);
2. ``repartitionByRange(v)`` over the distinct-value frame + a
   PARTITION-LOCAL cumulative sum, with per-partition offsets from a
   #partitions-row aggregate broadcast back (the same two-level global
   rank used by ``ops.sampling.deterministic_shuffle`` — no task ever
   sorts more than its range slice);
3. the requested quantile ranks live in a tiny broadcast frame joined
   against the cumulative counts; R-7 linear interpolation
   (``v_lo + frac * (v_hi - v_lo)``) matches DuckDB's
   ``quantile_cont`` bit-for-bit because both engines evaluate the
   identical double expression on identical inputs.

Total row count rides a 1-row aggregate branch over the same
value-grain exchange (runtime-deduped by ReuseExchange) — no driver
collect, the whole thing is ONE lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import persist


def exact_quantiles(df: DataFrame, col: str, qs: list[float]) -> DataFrame:
    """Exact R-7 (linear-interpolation) quantiles of ``col`` at each
    probability in ``qs``. Returns a ``len(qs)``-row frame
    ``(q, value)``. NULLs are excluded, as in every engine's quantile."""
    if not qs or any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError(f"exact_quantiles: probabilities must be in [0,1], got {qs}")
    spark = df.sparkSession
    vals = df.select(F.col(col).cast("double").alias("_v")).where(F.col("_v").isNotNull())
    g = vals.groupBy("_v").agg(F.count(F.lit(1)).alias("_c"))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # persist: the bucketed grain feeds both the offsets branch and the
    # main cumulative branch. Left lazy, each branch instantiates the
    # range exchange separately and the SAMPLED boundaries can differ
    # between the two runs — rows then carry a _pid the offsets side
    # never saw and the broadcast join silently drops them (the exact
    # failure mode observed in the profiler's r12 two-level chain). One
    # materialization = one partitioner = consistent _pid everywhere;
    # the cached state is the distinct-value grain, the same bound as
    # the shuffle itself.
    d = persist(
        g.repartitionByRange(n_parts, F.asc("_v")).withColumn("_pid", F.spark_partition_id())
    )
    wl = (
        Window.partitionBy("_pid")
        .orderBy(F.asc("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_lcum", F.sum("_c").over(wl))
    # #partitions-row frame; the unpartitioned window scans only those rows
    wp = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    off = (
        d.groupBy("_pid")
        .agg(F.sum("_c").alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(wp), F.lit(0)))
    )
    d = d.join(F.broadcast(off.select("_pid", "_off")), "_pid").withColumn(
        "_cum", F.col("_lcum") + F.col("_off")
    )
    # total count as a 1-row frame (same exchange as `off` — reused at
    # runtime), cross-joined under the quantile-rank literals
    nrow = off.agg(F.sum("_n").alias("_nt"))
    qf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    ranks = (
        qf.crossJoin(F.broadcast(nrow))
        .withColumn("_h", (F.col("_nt") - 1) * F.col("q"))
        .withColumn("_rlo", F.floor("_h").cast("bigint") + 1)
        .withColumn("_rhi", F.least(F.col("_rlo") + 1, F.col("_nt")))
        .withColumn("_frac", F.col("_h") - F.floor("_h"))
        .select("q", "_rlo", "_rhi", "_frac")
    )
    # each rank is covered by exactly one distinct-value row
    # (cum - c < r <= cum); tiny ranks frame broadcast against the
    # distinct-grain counts
    j = d.join(
        F.broadcast(ranks),
        ((F.col("_rlo") > F.col("_cum") - F.col("_c")) & (F.col("_rlo") <= F.col("_cum")))
        | ((F.col("_rhi") > F.col("_cum") - F.col("_c")) & (F.col("_rhi") <= F.col("_cum"))),
    )
    per_q = j.groupBy("q").agg(
        F.max(
            F.when(
                (F.col("_rlo") > F.col("_cum") - F.col("_c"))
                & (F.col("_rlo") <= F.col("_cum")),
                F.col("_v"),
            )
        ).alias("_vlo"),
        F.max(
            F.when(
                (F.col("_rhi") > F.col("_cum") - F.col("_c"))
                & (F.col("_rhi") <= F.col("_cum")),
                F.col("_v"),
            )
        ).alias("_vhi"),
        F.max("_frac").alias("_frac"),
    )
    return per_q.select(
        "q",
        (
            F.col("_vlo")
            + F.col("_frac") * (F.coalesce(F.col("_vhi"), F.col("_vlo")) - F.col("_vlo"))
        ).alias("value"),
    )


def mad_outliers(
    df: DataFrame, col: str, k: float = 3.0, keep: list[str] | None = None
) -> DataFrame:
    """Rows where ``|x - median| > k * MAD`` (median absolute
    deviation) — the robust analogue of the 3-sigma rule: one gross
    outlier can drag mean/std far enough to mask itself, while median
    and MAD have a 50% breakdown point.

    Two sequential exact-quantile passes (median, then median of
    absolute deviations — irreducible: the second depends on the
    first), each a 1-row frame cross-joined back under a map-only
    filter. Output keeps ``keep`` columns (default: all) plus rounded
    ``med``/``mad`` so results hash across engines.
    """
    med = exact_quantiles(df, col, [0.5]).select(F.col("value").alias("_med"))
    dev = df.crossJoin(F.broadcast(med)).select(
        F.abs(F.col(col).cast("double") - F.col("_med")).alias("_adev")
    )
    mad = exact_quantiles(dev, "_adev", [0.5]).select(F.col("value").alias("_mad"))
    out = (
        df.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .where(F.abs(F.col(col).cast("double") - F.col("_med")) > k * F.col("_mad"))
    )
    cols = keep if keep is not None else df.columns
    return out.select(
        *cols,
        F.round("_med", 6).alias("med"),
        F.round("_mad", 6).alias("mad"),
    )


def quantile_drift(
    base: DataFrame, cur: DataFrame, col: str, qs: list[float]
) -> DataFrame:
    """Quantile-grain drift between two loads: exact R-7 quantiles of
    each side at the probabilities in ``qs`` plus their gap — the
    scale-located complement of PSI (which sees bin mass move but not
    where in the tail) and of KS (one number, no location). Each side
    is one distributed exact-quantile pass; the join is |qs| rows.
    Values round to 6 dp for cross-engine hashing."""
    b = exact_quantiles(base, col, qs).select(
        "q", F.col("value").alias("_b")
    )
    c = exact_quantiles(cur, col, qs).select(
        "q", F.col("value").alias("_c")
    )
    return b.join(c, "q").select(
        "q",
        F.round("_b", 6).alias("base_value"),
        F.round("_c", 6).alias("cur_value"),
        F.round(F.abs(F.col("_c") - F.col("_b")), 6).alias("abs_gap"),
    )


def grouped_exact_quantiles(
    df: DataFrame, key_col: str, col: str, qs: list[float]
) -> DataFrame:
    """Exact R-7 quantiles of ``col`` at each probability in ``qs``,
    PER KEY — per-language length medians, per-event-type value
    percentiles. Returns ``(key, q, value)``.

    Scale shape: one (key, value)-grain shuffle (state = distinct
    values per key), a key-PARTITIONED cumulative-count window (the
    per-key melt the profiler uses — no unpartitioned window
    anywhere), per-key totals from the same grain, and the rank
    arithmetic rides a (#keys × |qs|)-row frame equi-joined back on
    the key. Never buffers a key's raw values the way Spark's
    ``percentile`` over groupBy does.
    """
    if not qs or any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError(f"grouped_exact_quantiles: probabilities must be in [0,1], got {qs}")
    vals = df.select(
        F.col(key_col).alias("_k"), F.col(col).cast("double").alias("_v")
    ).where(F.col("_v").isNotNull())
    g = vals.groupBy("_k", "_v").agg(F.count(F.lit(1)).alias("_c"))
    w = (
        Window.partitionBy("_k")
        .orderBy(F.asc("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = g.withColumn("_cum", F.sum("_c").over(w))
    totals = g.groupBy("_k").agg(F.sum("_c").alias("_nt"))
    ranks = (
        totals.select(
            "_k",
            "_nt",
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        )
        .withColumn("_h", (F.col("_nt") - 1) * F.col("q"))
        .withColumn("_rlo", F.floor("_h").cast("bigint") + 1)
        .withColumn("_rhi", F.least(F.col("_rlo") + 1, F.col("_nt")))
        .withColumn("_frac", F.col("_h") - F.floor("_h"))
        .select("_k", "q", "_rlo", "_rhi", "_frac")
    )
    j = d.join(ranks, "_k").where(
        ((F.col("_rlo") > F.col("_cum") - F.col("_c")) & (F.col("_rlo") <= F.col("_cum")))
        | ((F.col("_rhi") > F.col("_cum") - F.col("_c")) & (F.col("_rhi") <= F.col("_cum")))
    )
    per = j.groupBy("_k", "q").agg(
        F.max(
            F.when(
                (F.col("_rlo") > F.col("_cum") - F.col("_c"))
                & (F.col("_rlo") <= F.col("_cum")),
                F.col("_v"),
            )
        ).alias("_vlo"),
        F.max(
            F.when(
                (F.col("_rhi") > F.col("_cum") - F.col("_c"))
                & (F.col("_rhi") <= F.col("_cum")),
                F.col("_v"),
            )
        ).alias("_vhi"),
        F.max("_frac").alias("_frac"),
    )
    return per.select(
        F.col("_k").alias(key_col),
        "q",
        (
            F.col("_vlo")
            + F.col("_frac") * (F.coalesce(F.col("_vhi"), F.col("_vlo")) - F.col("_vlo"))
        ).alias("value"),
    )
