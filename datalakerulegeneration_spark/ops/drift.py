"""Distribution drift between two loads of the same column (scale
extension; the reference's only distribution comparison is the
matcher's KS/Wasserstein on 200-row samples — method_2/pipleline_2.py:
90-115 — not a monitoring operator).

Population Stability Index over fixed equi-width bins: the standard
drift monitor between a baseline load and a new load. One aggregation
per side at bin grain (map-side combined), a tiny bin-level join, and
a scalar fold — no raw-row shuffle, so it runs unchanged on 100 TB
loads. Bin edges come from the BASELINE's min/max (computed once,
broadcast as literals through the plan), which is how production
monitors pin edges so drift is attributed to the new data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import persist, scope

_EPS = 1e-6  # floor for empty-bin shares (standard PSI guard)


def psi_bins(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    n_bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Per-bin shares of both loads + the bin's PSI term:
    ``(bin, base_share, cur_share, psi_term)``; total PSI = sum of
    terms. Values outside [lo, hi] clamp into the edge bins (standard
    monitor behavior for drifting tails). Shares are exact integer
    ratios; the ln() difference is rounded to 6 dp for engine
    portability.
    """
    if lo is None or hi is None:
        row = baseline.agg(
            F.min(F.expr(f"try_cast({col} as double)")).alias("lo"),
            F.max(F.expr(f"try_cast({col} as double)")).alias("hi"),
        ).collect()[0]
        lo = row["lo"] if lo is None else lo
        hi = row["hi"] if hi is None else hi
    if lo is None or hi is None:
        raise ValueError(
            f"psi_bins: cannot infer [lo, hi] for column {col!r} — the baseline"
            " is empty or the column has no castable numeric values; pass"
            " explicit lo/hi"
        )
    if hi < lo:
        raise ValueError(f"psi_bins: hi ({hi!r}) < lo ({lo!r}) for column {col!r}")
    width = (hi - lo) / n_bins or 1.0

    def binned(df: DataFrame, name: str) -> DataFrame:
        # clamp the RATIO in double space BEFORE floor/int-cast: a value
        # astronomically far from [lo, hi] must land in an edge bin, not
        # blow the INT cast under ANSI mode (extreme drift is exactly
        # when the monitor must not crash)
        b = F.floor(
            F.least(
                F.lit(float(n_bins - 1)),
                F.greatest(
                    F.lit(0.0),
                    (F.expr(f"try_cast({col} as double)") - lo) / width,
                ),
            )
        ).cast("int")
        return (
            df.where(F.expr(f"try_cast({col} as double)").isNotNull())
            .groupBy(b.cast("long").alias("bin"))
            .agg(F.count(F.lit(1)).alias(f"{name}_n"))
        )

    base = binned(baseline, "base")
    cur = binned(current, "cur")
    bins = base.sparkSession.range(0, n_bins).select(F.col("id").alias("bin"))
    j = (
        bins.join(base, "bin", "left")
        .join(cur, "bin", "left")
        .select(
            "bin",
            F.coalesce("base_n", F.lit(0)).alias("base_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        )
    )
    tot = j.agg(
        F.sum("base_n").alias("bt"), F.sum("cur_n").alias("ct")
    )
    # EMPTY side (no castable rows): shares/psi go NULL instead of the
    # ANSI divide-by-zero throw — explicit CASE, not greatest(NULL, eps)
    # (cross-engine NULL handling differs there; see psi_frozen)
    empty = (F.col("bt") == F.lit(0)) | (F.col("ct") == F.lit(0))
    bshare = F.col("base_n").cast("double") / F.nullif(F.col("bt").cast("double"), F.lit(0.0))
    cshare = F.col("cur_n").cast("double") / F.nullif(F.col("ct").cast("double"), F.lit(0.0))
    ba = F.greatest(bshare, F.lit(_EPS))
    cu = F.greatest(cshare, F.lit(_EPS))
    return (
        j.join(F.broadcast(tot))
        .select(
            "bin",
            F.round(bshare, 6).alias("base_share"),
            F.round(cshare, 6).alias("cur_share"),
            F.when(empty, F.lit(None).cast("double"))
            .otherwise(F.round((ba - cu) * F.log(ba / cu), 6))
            .alias("psi_term"),
        )
    )


def psi_bins_sql(
    base_sql: str,
    cur_sql: str,
    col: str,
    n_bins: int,
    lo: float,
    hi: float,
) -> str:
    """DuckDB oracle for :func:`psi_bins` with pinned edges (the Spark
    query must pass the same lo/hi so both engines bin identically)."""
    width = (hi - lo) / n_bins or 1.0
    # double-space clamp before the INT cast (mirrors psi_bins)
    bin_expr = (
        f"CAST(floor(least({float(n_bins - 1)!r}, greatest(0.0,"
        f" (TRY_CAST({col} AS DOUBLE) - {lo!r}) / {width!r}))) AS INT)"
    )

    def side(sql: str, name: str) -> str:
        return (
            f"SELECT CAST({bin_expr} AS BIGINT) AS bin, count(*) AS {name}_n"
            f" FROM ({sql}) WHERE TRY_CAST({col} AS DOUBLE) IS NOT NULL GROUP BY 1"
        )

    return f"""
WITH base AS ({side(base_sql, 'base')}),
cur AS ({side(cur_sql, 'cur')}),
bins AS (SELECT unnest(generate_series(0, {n_bins - 1})) AS bin),
j AS (
  SELECT bins.bin,
         coalesce(base_n, 0) AS base_n,
         coalesce(cur_n, 0) AS cur_n
  FROM bins LEFT JOIN base ON bins.bin = base.bin LEFT JOIN cur ON bins.bin = cur.bin
), tot AS (SELECT sum(base_n) AS bt, sum(cur_n) AS ct FROM j)
SELECT CAST(j.bin AS BIGINT) AS bin,
       round(CAST(base_n AS DOUBLE) / CAST(nullif(bt, 0) AS DOUBLE), 6) AS base_share,
       round(CAST(cur_n AS DOUBLE) / CAST(nullif(ct, 0) AS DOUBLE), 6) AS cur_share,
       CASE WHEN bt = 0 OR ct = 0 THEN NULL ELSE
       round((greatest(CAST(base_n AS DOUBLE) / CAST(bt AS DOUBLE), {_EPS!r})
            - greatest(CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE), {_EPS!r}))
           * ln(greatest(CAST(base_n AS DOUBLE) / CAST(bt AS DOUBLE), {_EPS!r})
              / greatest(CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE), {_EPS!r})), 6)
       END AS psi_term
FROM j, tot
"""


def ks_statistic(
    baseline: DataFrame, current: DataFrame, col: str, n_parts: int = 32
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic, distributed:
    one row ``(ks, n_base, n_cur)``. Thin wrapper over the table-grain
    engine (:func:`ks_table` with one column) — one implementation of
    the two-level bucketed cumulative machinery, proven equal to the
    stacked plan by pytest and by both queries' DuckDB oracles."""
    out = ks_table(baseline, current, [col], n_parts)
    if not out.take(1):
        raise ValueError(f"ks_statistic: a side has no numeric values in {col!r}")
    return out.select("ks", "n_base", "n_cur")


def ks_statistic_sql(base_sql: str, cur_sql: str, col: str) -> str:
    """DuckDB oracle for :func:`ks_statistic` (same distinct-value
    cumulative construction)."""
    def side(sql: str, name: str) -> str:
        return (
            f"SELECT TRY_CAST({col} AS DOUBLE) AS v, count(*) AS {name}_n"
            f" FROM ({sql}) WHERE TRY_CAST({col} AS DOUBLE) IS NOT NULL GROUP BY 1"
        )

    return f"""
WITH base AS ({side(base_sql, 'base')}),
cur AS ({side(cur_sql, 'cur')}),
j AS (
  SELECT coalesce(base.v, cur.v) AS v,
         coalesce(base_n, 0) AS base_n, coalesce(cur_n, 0) AS cur_n
  FROM base FULL OUTER JOIN cur ON base.v = cur.v
), tot AS (SELECT sum(base_n) AS nb, sum(cur_n) AS nc FROM j),
ecdf AS (
  SELECT abs(CAST(sum(base_n) OVER w AS DOUBLE) / CAST(nb AS DOUBLE)
           - CAST(sum(cur_n) OVER w AS DOUBLE) / CAST(nc AS DOUBLE)) AS d,
         nb, nc
  FROM j, tot
  WINDOW w AS (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT round(max(d), 6) AS ks,
       CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_cur
FROM ecdf GROUP BY nb, nc
"""


def psi_table(
    baseline: DataFrame,
    current: DataFrame,
    bounds: dict[str, tuple[float, float]],
    n_bins: int = 10,
) -> DataFrame:
    """PSI for MANY columns in one pass: both sides melt to
    ``(column, bin)`` grain via one stack each, then a single bin-grain
    aggregation per side — monitoring every column of a 100 TB table
    costs the same two scans as monitoring one. ``bounds`` pins each
    column's [lo, hi] edges. Output: (column, bin, base_share,
    cur_share, psi_term)."""
    cols = sorted(bounds)

    def binned(df: DataFrame, name: str) -> DataFrame:
        parts = []
        for c in cols:
            lo, hi = bounds[c]
            width = (hi - lo) / n_bins or 1.0
            # Spark's greatest() SKIPS nulls (greatest(0, NULL) = 0), so a
            # null cell would silently land in bin 0; guard with an explicit
            # CASE so nulls produce a NULL bin and fall out of the filter
            # below (mirrors psi_bins' explicit isNotNull pre-filter).
            parts.append(
                f"'{c}', case when try_cast(`{c}` as double) is null"
                f" then cast(null as int)"
                f" else cast(floor(least({float(n_bins - 1)!r}, greatest(0.0,"
                f" (try_cast(`{c}` as double) - {lo!r}) / {width!r}))) as int) end"
            )
        m = df.selectExpr(
            f"stack({len(cols)}, {', '.join(parts)}) as (col_name, bin)"
        ).where(F.col("bin").isNotNull())
        return m.groupBy("col_name", F.col("bin").cast("long").alias("bin")).agg(
            F.count(F.lit(1)).alias(f"{name}_n")
        )

    base = binned(baseline, "base")
    cur = binned(current, "cur")
    spark = baseline.sparkSession
    grid = (
        spark.range(0, n_bins)
        .select(F.col("id").alias("bin"))
        .crossJoin(spark.createDataFrame([(c,) for c in cols], "col_name string"))
    )
    j = (
        grid.join(base, ["col_name", "bin"], "left")
        .join(cur, ["col_name", "bin"], "left")
        .select(
            "col_name",
            "bin",
            F.coalesce("base_n", F.lit(0)).alias("base_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        )
    )
    w_tot = (
        j.groupBy("col_name").agg(F.sum("base_n").alias("bt"), F.sum("cur_n").alias("ct"))
    )
    # all-NULL column on either side (bt/ct = 0): NULL shares/psi for
    # that column instead of the ANSI divide-by-zero throw (see psi_bins)
    empty = (F.col("bt") == F.lit(0)) | (F.col("ct") == F.lit(0))
    bshare = F.col("base_n").cast("double") / F.nullif(F.col("bt").cast("double"), F.lit(0.0))
    cshare = F.col("cur_n").cast("double") / F.nullif(F.col("ct").cast("double"), F.lit(0.0))
    ba = F.greatest(bshare, F.lit(_EPS))
    cu = F.greatest(cshare, F.lit(_EPS))
    return (
        j.join(F.broadcast(w_tot), "col_name")
        .select(
            "col_name",
            "bin",
            F.round(bshare, 6).alias("base_share"),
            F.round(cshare, 6).alias("cur_share"),
            F.when(empty, F.lit(None).cast("double"))
            .otherwise(F.round((ba - cu) * F.log(ba / cu), 6))
            .alias("psi_term"),
        )
    )


def psi_table_sql(
    base_sql: str,
    cur_sql: str,
    bounds: dict[str, tuple[float, float]],
    n_bins: int = 10,
) -> str:
    """DuckDB oracle for :func:`psi_table` (per-column UNION ALL of the
    same pinned-edge binning)."""
    cols = sorted(bounds)

    def side(sql: str, name: str) -> str:
        selects = []
        for c in cols:
            lo, hi = bounds[c]
            width = (hi - lo) / n_bins or 1.0
            b = (
                f"CAST(floor(least({float(n_bins - 1)!r}, greatest(0.0,"
                f" (TRY_CAST({c} AS DOUBLE) - {lo!r}) / {width!r}))) AS INT)"
            )
            selects.append(
                f"SELECT '{c}' AS col_name, CAST({b} AS BIGINT) AS bin, count(*) AS {name}_n"
                f" FROM ({sql}) WHERE TRY_CAST({c} AS DOUBLE) IS NOT NULL GROUP BY 1, 2"
            )
        return "\nUNION ALL\n".join(selects)

    grid = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, unnest(generate_series(0, {n_bins - 1})) AS bin"
        for c in cols
    )
    return f"""
WITH base AS ({side(base_sql, 'base')}),
cur AS ({side(cur_sql, 'cur')}),
grid AS ({grid}),
j AS (
  SELECT grid.col_name, grid.bin,
         coalesce(base_n, 0) AS base_n, coalesce(cur_n, 0) AS cur_n
  FROM grid
  LEFT JOIN base ON grid.col_name = base.col_name AND grid.bin = base.bin
  LEFT JOIN cur ON grid.col_name = cur.col_name AND grid.bin = cur.bin
), tot AS (
  SELECT col_name, sum(base_n) AS bt, sum(cur_n) AS ct FROM j GROUP BY col_name
)
SELECT j.col_name, j.bin,
       round(CAST(base_n AS DOUBLE) / CAST(nullif(bt, 0) AS DOUBLE), 6) AS base_share,
       round(CAST(cur_n AS DOUBLE) / CAST(nullif(ct, 0) AS DOUBLE), 6) AS cur_share,
       CASE WHEN bt = 0 OR ct = 0 THEN NULL ELSE
       round((greatest(CAST(base_n AS DOUBLE) / CAST(bt AS DOUBLE), {_EPS!r})
            - greatest(CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE), {_EPS!r}))
           * ln(greatest(CAST(base_n AS DOUBLE) / CAST(bt AS DOUBLE), {_EPS!r})
              / greatest(CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE), {_EPS!r})), 6)
       END AS psi_term
FROM j JOIN tot ON j.col_name = tot.col_name
"""


def schema_drift(baseline: DataFrame, current: DataFrame) -> DataFrame:
    """Schema diff between two loads: ``(column, status, base_type,
    cur_type)`` with status ∈ added | removed | type_changed |
    unchanged. Schemas are catalog METADATA — this never scans either
    table, so it is free at any scale (run it before the data-level
    monitors to catch the breakages PSI can't see)."""
    spark = baseline.sparkSession
    b = {f.name: f.dataType.simpleString() for f in baseline.schema.fields}
    c = {f.name: f.dataType.simpleString() for f in current.schema.fields}
    rows = []
    for col in sorted(set(b) | set(c)):
        if col not in c:
            status = "removed"
        elif col not in b:
            status = "added"
        elif b[col] != c[col]:
            status = "type_changed"
        else:
            status = "unchanged"
        rows.append((col, status, b.get(col), c.get(col)))
    return spark.createDataFrame(
        rows, "column string, status string, base_type string, cur_type string"
    )


def profile_drift(
    baseline: DataFrame, current: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Profile-level drift between two loads of the same table: per
    common column, null-ratio / mean / std / distinct-estimate on both
    sides plus their deltas. Built on the mergeable partial-stats
    states (one column-pruned aggregation pass per side, then a
    #columns-row join) — at 100 TB this costs two scans and nothing
    else, and either side's state can come from a SAVED partial frame
    instead of a rescan. Distribution-shape drift is :func:`psi_bins`
    / :func:`psi_table`'s job; this catches completeness and moment
    shifts."""
    from datalakerulegeneration_spark.streaming.profiler_stream import (
        finalize_state,
        partial_stats,
    )

    common = [c for c in (columns or baseline.columns) if c in current.columns]
    b = finalize_state(partial_stats(baseline.select(common)))
    c = finalize_state(partial_stats(current.select(common)))
    pick = lambda side, name: F.col(f"{side}.{name}").alias(f"{side}_{name}")  # noqa: E731
    rel = (F.col("cur.numeric_mean") - F.col("base.numeric_mean")) / F.nullif(
        F.abs(F.col("base.numeric_mean")), F.lit(0.0)
    )
    return (
        b.alias("base")
        .join(c.alias("cur"), F.col("base.column") == F.col("cur.column"))
        .select(
            F.col("base.column").alias("column"),
            pick("base", "null_ratio"),
            pick("cur", "null_ratio"),
            (F.col("cur.null_ratio") - F.col("base.null_ratio")).alias("null_ratio_delta"),
            pick("base", "numeric_mean"),
            pick("cur", "numeric_mean"),
            # rel is NULL when the baseline mean is exactly 0 — consumers
            # must fall back to the absolute shift, not treat NULL as calm
            rel.alias("mean_rel_shift"),
            (F.col("cur.numeric_mean") - F.col("base.numeric_mean")).alias("mean_abs_shift"),
            pick("base", "numeric_std"),
            pick("cur", "numeric_std"),
            pick("base", "distinct_num_approx"),
            pick("cur", "distinct_num_approx"),
        )
    )


def wasserstein_1(
    baseline: DataFrame, current: DataFrame, col: str, n_parts: int = 32
) -> DataFrame:
    """EXACT 1-Wasserstein (earth-mover) distance between two samples:
    ``(w1, n_base, n_cur)`` — W1 = ∫|ECDF_a − ECDF_b| dx on
    distinct-value grain. Thin wrapper over :func:`wasserstein_table`
    with one column (see :func:`ks_statistic` for the rationale)."""
    out = wasserstein_table(baseline, current, [col], n_parts)
    if not out.take(1):
        raise ValueError(f"wasserstein_1: a side has no numeric values in {col!r}")
    return out.select("w1", "n_base", "n_cur")


def wasserstein_1_sql(base_sql: str, cur_sql: str, col: str) -> str:
    """DuckDB oracle for :func:`wasserstein_1`."""
    def side(sql: str, name: str) -> str:
        return (
            f"SELECT TRY_CAST({col} AS DOUBLE) AS v, count(*) AS {name}_n"
            f" FROM ({sql}) WHERE TRY_CAST({col} AS DOUBLE) IS NOT NULL GROUP BY 1"
        )

    return f"""
WITH base AS ({side(base_sql, 'base')}),
cur AS ({side(cur_sql, 'cur')}),
j AS (
  SELECT coalesce(base.v, cur.v) AS v,
         coalesce(base_n, 0) AS base_n, coalesce(cur_n, 0) AS cur_n
  FROM base FULL OUTER JOIN cur ON base.v = cur.v
), tot AS (SELECT sum(base_n) AS nb, sum(cur_n) AS nc FROM j),
terms AS (
  SELECT CAST(round(abs(CAST(sum(base_n) OVER w AS DOUBLE) / CAST(nb AS DOUBLE)
                      - CAST(sum(cur_n) OVER w AS DOUBLE) / CAST(nc AS DOUBLE))
                 * (lead(v) OVER wo - v), 6) AS DECIMAL(18,6)) AS term,
         lead(v) OVER wo AS nxt, nb, nc
  FROM j, tot
  WINDOW w AS (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wo AS (ORDER BY v ASC)
)
SELECT CAST(sum(term) AS DOUBLE) AS w1,
       CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_cur
FROM terms WHERE nxt IS NOT NULL GROUP BY nb, nc
"""


# ---------------------------------------------------------------------------
# table-grain exact KS / W1 — M columns in ONE stacked pass per side
# ---------------------------------------------------------------------------

def _distinct_grain_table(
    baseline: DataFrame, current: DataFrame, cols: list[str]
) -> DataFrame:
    """(col_name, v, base_n, cur_n) on distinct-value grain for MANY
    columns at once: each side melts through one ``stack`` (one scan
    per side, column-pruned to ``cols``), the tagged union aggregates
    in a SINGLE (col_name, v)-keyed shuffle — monitoring M columns
    costs two scans + one shuffle, not 2M scans."""
    parts = ", ".join(f"'{c}', try_cast(`{c}` as double)" for c in cols)

    def melt(df: DataFrame, b: int) -> DataFrame:
        return (
            df.selectExpr(f"stack({len(cols)}, {parts}) as (col_name, v)")
            .where(F.col("v").isNotNull())
            .select(
                "col_name", "v",
                F.lit(b).alias("base_i"), F.lit(1 - b).alias("cur_i"),
            )
        )

    return (
        melt(baseline, 1)
        .unionByName(melt(current, 0))
        .groupBy("col_name", "v")
        .agg(F.sum("base_i").alias("base_n"), F.sum("cur_i").alias("cur_n"))
    )


def _table_buckets(
    baseline: DataFrame, cols: list[str], n_parts: int
) -> dict[str, list[float]]:
    """Per-column bucket boundaries from ONE baseline aggregate (all
    columns' approx_percentile in a single column-pruned scan). Only
    parallelism, never values, depends on these — see _range_buckets."""
    probs = ", ".join(f"{i / n_parts!r}" for i in range(1, n_parts))
    aggs = [
        F.expr(
            f"approx_percentile(try_cast(`{c}` as double), array({probs}), 1000)"
        ).alias(c)
        for c in cols
    ]
    row = baseline.agg(*aggs).collect()[0]
    return {
        c: sorted({b for b in (row[c] or []) if b is not None}) for c in cols
    }


def _bucketed_grain(
    baseline: DataFrame, current: DataFrame, cols: list[str], n_parts: int
):
    """Shared engine state for the table-grain KS/W1: the persisted
    (col, value, counts, pid) frame plus a TINY broadcast frame carrying
    per-(col, pid) cumulative offsets, per-col totals, and the next
    bucket's minimum value — joined onto the grain instead of compiled
    into M·n_parts-deep CASE chains (which blow past codegen limits on
    wide tables). Columns empty on either side are SKIPPED (a drift
    monitor must keep reporting the healthy columns when one breaks),
    so the returned kept-list may be shorter than ``cols``.
    """
    jb = persist(
        _distinct_grain_table(baseline, current, cols)
        .withColumn("pid", _table_pid(_table_buckets(baseline, cols, n_parts)))
    )
    stats = {
        (r["col_name"], r["pid"]): (r["b"], r["c"], r["mn"])
        for r in jb.groupBy("col_name", "pid")
        .agg(
            F.sum("base_n").alias("b"),
            F.sum("cur_n").alias("c"),
            F.min("v").alias("mn"),
        )
        .collect()
    }
    nb = {c: sum(v[0] for (cc, _), v in stats.items() if cc == c) for c in cols}
    nc = {c: sum(v[1] for (cc, _), v in stats.items() if cc == c) for c in cols}
    kept = [c for c in cols if nb[c] > 0 and nc[c] > 0]
    rows = []
    for c in kept:
        acc_b = acc_c = 0
        pids = sorted(k[1] for k in stats if k[0] == c)
        for i, pid in enumerate(pids):
            nxt = stats[(c, pids[i + 1])][2] if i + 1 < len(pids) else None
            rows.append((c, pid, acc_b, acc_c, float(nb[c]), float(nc[c]), nxt))
            acc_b += stats[(c, pid)][0]
            acc_c += stats[(c, pid)][1]
    offs = jb.sparkSession.createDataFrame(
        rows,
        "col_name string, pid int, off_b long, off_c long,"
        " nb double, nc double, nxt_min double",
    )
    grain = jb.join(F.broadcast(offs), ["col_name", "pid"])
    return grain, kept, nb, nc


def _table_pid(bounds: dict[str, list[float]]):
    pid = F.lit(0)
    for c, bs in bounds.items():
        inner = F.lit(0)
        for b in bs:
            inner = inner + F.when(F.col("v") > F.lit(float(b)), 1).otherwise(0)
        pid = F.when(F.col("col_name") == c, inner).otherwise(pid)
    return pid


@scope()
def ks_table(
    baseline: DataFrame, current: DataFrame, cols: list[str], n_parts: int = 32
) -> DataFrame:
    """EXACT two-sample KS for MANY columns in one stacked pass per
    side: ``(col_name, ks, n_base, n_cur)`` — the two-level bucketed
    cumulative sum (the running-sum window partitions on
    (col_name, pid), never a whole column's domain in one task), with
    bucket offsets/totals broadcast-joined from a tiny literal frame.
    Columns with no numeric values on a side are omitted from the
    output (the monitor keeps reporting healthy columns). The result is
    M rows — materialized so the grain cache can be released before
    returning (the driver boundary the profiler already uses)."""
    from pyspark.sql import Window

    grain, kept, nb, nc = _bucketed_grain(baseline, current, cols, n_parts)
    w = Window.partitionBy("col_name", "pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = F.abs(
        (F.sum("base_n").over(w) + F.col("off_b")).cast("double") / F.col("nb")
        - (F.sum("cur_n").over(w) + F.col("off_c")).cast("double") / F.col("nc")
    )
    rows = (
        grain.select("col_name", d.alias("d"))
        .groupBy("col_name")
        .agg(F.round(F.max("d"), 6).alias("ks"))
        .collect()
    )
    ks = {r["col_name"]: r["ks"] for r in rows}
    out = [(c, ks[c], nb[c], nc[c]) for c in kept if c in ks]
    return baseline.sparkSession.createDataFrame(
        out, "col_name string, ks double, n_base long, n_cur long"
    )


def ks_table_sql(base_sql: str, cur_sql: str, cols: list[str]) -> str:
    """DuckDB oracle for :func:`ks_table` — per-column UNION ALL of the
    single-column construction, tagged by col_name."""
    parts = []
    for c in cols:
        one = ks_statistic_sql(base_sql, cur_sql, c)
        parts.append(f"SELECT '{c}' AS col_name, * FROM ({one})")
    return "\nUNION ALL\n".join(parts)


@scope()
def wasserstein_table(
    baseline: DataFrame, current: DataFrame, cols: list[str], n_parts: int = 32
) -> DataFrame:
    """EXACT 1-Wasserstein for MANY columns in one stacked pass per
    side: ``(col_name, w1, n_base, n_cur)`` — same engine as
    :func:`ks_table`; a bucket's last row takes its next value from the
    following bucket's minimum (the broadcast frame's ``nxt_min``).
    Empty columns are omitted; the M-row result is materialized so the
    grain cache can be released."""
    from pyspark.sql import Window

    grain, kept, nb, nc = _bucketed_grain(baseline, current, cols, n_parts)
    wc = Window.partitionBy("col_name", "pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = Window.partitionBy("col_name", "pid").orderBy("v")
    terms = (
        grain.withColumn("ca", F.sum("base_n").over(wc) + F.col("off_b"))
        .withColumn("cb", F.sum("cur_n").over(wc) + F.col("off_c"))
        .withColumn("nxt", F.coalesce(F.lead("v").over(wl), F.col("nxt_min")))
        .where(F.col("nxt").isNotNull())
        .select(
            "col_name",
            F.round(
                F.abs(
                    F.col("ca").cast("double") / F.col("nb")
                    - F.col("cb").cast("double") / F.col("nc")
                )
                * (F.col("nxt") - F.col("v")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("term"),
        )
    )
    rows = (
        terms.groupBy("col_name")
        .agg(F.sum("term").cast("double").alias("w1"))
        .collect()
    )
    w1 = {r["col_name"]: r["w1"] for r in rows}
    out = [(c, w1[c], nb[c], nc[c]) for c in kept if c in w1]
    return baseline.sparkSession.createDataFrame(
        out, "col_name string, w1 double, n_base long, n_cur long"
    )


def wasserstein_table_sql(base_sql: str, cur_sql: str, cols: list[str]) -> str:
    """DuckDB oracle for :func:`wasserstein_table`."""
    parts = []
    for c in cols:
        one = wasserstein_1_sql(base_sql, cur_sql, c)
        parts.append(f"SELECT '{c}' AS col_name, * FROM ({one})")
    return "\nUNION ALL\n".join(parts)


def _dlit(x: float) -> str:
    """Double literal with identical bits in Spark SQL and DuckDB
    (shared convention: functions.exact.dlit)."""
    from datalakerulegeneration_spark.functions.exact import dlit

    return dlit(x)


def psi_frozen(
    current: DataFrame,
    col: str,
    lo: float,
    hi: float,
    ref_counts: list[int],
) -> DataFrame:
    """:func:`psi_bins` against a FROZEN reference distribution — the
    refit trigger for the frozen-parameter serving splits: serve the
    pinned model, monitor the live score distribution against the
    freeze-time one, refit + re-freeze when total PSI crosses the
    standard 0.2 production threshold (0.1 = investigate).

    Unlike :func:`psi_bins` there is NO baseline scan at serving time:
    the reference enters the plan as literals — frozen [lo, hi] edges
    (as bit-identical CAST('repr' AS DOUBLE) literals) and per-bin
    INTEGER counts, so reference shares are the same IEEE division of
    the same integers in both engines. Output matches psi_bins:
    ``(bin, ref_share, cur_share, psi_term)``; total PSI = sum.

    Scale shape: map-side bin fold + one count-by-bin aggregation of
    the current load + an n_bins-row literal join — no raw-row
    shuffle; at 100 TB this costs one scan of the scored column."""
    n_bins = len(ref_counts)
    if n_bins < 2:
        raise ValueError("psi_frozen: need >= 2 reference bins")
    if any((not isinstance(c, int)) or c < 0 for c in ref_counts):
        raise ValueError("psi_frozen: ref_counts must be non-negative integers")
    if sum(ref_counts) <= 0:
        raise ValueError("psi_frozen: reference is empty")
    if not (hi > lo):
        raise ValueError(f"psi_frozen: hi ({hi!r}) must exceed lo ({lo!r})")
    width = (hi - lo) / n_bins
    spark = current.sparkSession
    x = f"try_cast({col} as double)"
    # clamp in double BEFORE the INT cast: extreme drift (values with
    # (x-lo)/width beyond INT range) lands in an edge bin instead of
    # throwing under ANSI — the monitor must survive exactly that case
    bin_sql = (
        f"CAST(floor(least({_dlit(float(n_bins - 1))}, greatest({_dlit(0.0)},"
        f" ({x} - {_dlit(lo)}) / {_dlit(width)}))) AS INT)"
    )
    cur = (
        current.where(F.expr(x).isNotNull())
        .groupBy(F.expr(bin_sql).cast("long").alias("bin"))
        .agg(F.count(F.lit(1)).alias("cur_n"))
    )
    rt = sum(ref_counts)
    ref = spark.createDataFrame(
        list(zip(range(n_bins), ref_counts)), "bin long, ref_n long"
    )
    j = ref.join(cur, "bin", "left").select(
        "bin", "ref_n", F.coalesce("cur_n", F.lit(0)).alias("cur_n")
    )
    tot = j.agg(F.sum("cur_n").alias("ct"))
    rs = F.col("ref_n").cast("double") / F.lit(float(rt))
    # an EMPTY current load (ct = 0: no castable rows at all) has no
    # distribution to compare — shares/psi go NULL instead of the ANSI
    # divide-by-zero throw. The empty case is an EXPLICIT CASE in both
    # engines: greatest(NULL, eps) NULL-handling differs cross-engine
    # (Spark skips NULLs, so the term would silently compute against a
    # floored share), so the EPS floor only ever sees non-NULL shares.
    empty = F.col("ct") == F.lit(0)
    cs = F.col("cur_n").cast("double") / F.nullif(
        F.col("ct").cast("double"), F.lit(0.0)
    )
    ra, ca = F.greatest(rs, F.lit(_EPS)), F.greatest(cs, F.lit(_EPS))
    return (
        j.join(F.broadcast(tot))
        .select(
            "bin",
            F.round(rs, 6).alias("ref_share"),
            F.round(cs, 6).alias("cur_share"),
            F.when(empty, F.lit(None).cast("double"))
            .otherwise(F.round((ra - ca) * F.log(ra / ca), 6))
            .alias("psi_term"),
        )
    )


def psi_frozen_sql(
    cur_sql: str,
    col: str,
    lo: float,
    hi: float,
    ref_counts: list[int],
) -> str:
    """Exact DuckDB oracle for :func:`psi_frozen` — identical literal
    edges, identical integer reference counts, same EPS floor and
    6-dp round."""
    n_bins = len(ref_counts)
    width = (hi - lo) / n_bins
    rt = sum(ref_counts)
    x = f"TRY_CAST({col} AS DOUBLE)"
    bin_expr = (
        f"CAST(floor(least({_dlit(float(n_bins - 1))}, greatest({_dlit(0.0)},"
        f" ({x} - {_dlit(lo)}) / {_dlit(width)}))) AS INT)"
    )
    rows = ",\n    ".join(f"({i}, {c})" for i, c in enumerate(ref_counts))
    return f"""
WITH _psi_ref(bin, ref_n) AS (
  VALUES
    {rows}
),
_psi_cur AS (
  SELECT CAST({bin_expr} AS BIGINT) AS bin, count(*) AS cur_n
  FROM ({cur_sql}) WHERE {x} IS NOT NULL GROUP BY 1
),
_psi_j AS (
  SELECT _psi_ref.bin, _psi_ref.ref_n, coalesce(_psi_cur.cur_n, 0) AS cur_n
  FROM _psi_ref LEFT JOIN _psi_cur ON _psi_ref.bin = _psi_cur.bin
), _psi_tot AS (SELECT sum(cur_n) AS ct FROM _psi_j)
SELECT CAST(_psi_j.bin AS BIGINT) AS bin,
       round(CAST(ref_n AS DOUBLE) / {_dlit(float(rt))}, 6) AS ref_share,
       round(CAST(cur_n AS DOUBLE) / CAST(nullif(ct, 0) AS DOUBLE), 6) AS cur_share,
       CASE WHEN ct = 0 THEN NULL ELSE
       round((greatest(CAST(ref_n AS DOUBLE) / {_dlit(float(rt))}, {_EPS!r})
            - greatest(CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE), {_EPS!r}))
           * ln(greatest(CAST(ref_n AS DOUBLE) / {_dlit(float(rt))}, {_EPS!r})
              / greatest(CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE), {_EPS!r})), 6)
       END AS psi_term
FROM _psi_j, _psi_tot
"""
