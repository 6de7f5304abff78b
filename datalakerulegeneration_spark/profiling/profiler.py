"""Column profiler: one wide aggregation per table (P1-P20).

The reference profiles each table with per-cell Python loops
(profiling/profiler.py:169-357, 470-648). Here the same ~40 statistics
are computed as three declarative Spark plans per table:

1. **scalar pass** — a single wide ``agg`` over the table: every
   (column × stat) pair is one aggregate expression → one scan, one
   result row, map-side partial aggregation, no shuffle of raw data.
2. **value pass** — the table unpivoted to ``(col_name, value)`` cell
   grain (2 narrow columns only) for modal value / dominant pattern /
   first-digit (Benford) / equi-width & equi-depth bins: one shuffle
   keyed by (column, value).
3. **token pass** — tokens exploded from string columns for word-class
   counts and top-k keywords: one shuffle keyed by (column, token).

The per-column result set is tiny (#columns rows) by design, so final
assembly collects to the driver and re-creates a ``profiles``
DataFrame — the same boundary the reference's pickled profile dicts
have, but queryable.

At 100 TB: the scalar pass stays single-scan; passes 2-3 shuffle only
projected narrow columns; set ``exact=False`` to switch distinct counts
to ``approx_count_distinct`` and quantiles to ``percentile_approx``
(documented tolerance instead of an exact sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalakerulegeneration_spark.catalog import ScanSize, scan_size
from datalakerulegeneration_spark.materialize import persist, scope
from datalakerulegeneration_spark.profiling import stats as S
from datalakerulegeneration_spark.profiling.patterns import (
    TYPE_THRESHOLD,
    symbolic_pattern,
)

TOP_K_KEYWORDS = 10  # reference profiler.py:33
TOP_K_HISTOGRAM = 10  # reference reds.py:69-71

# Deterministic stop-word list (reference uses NLTK's; we document the
# delta — SURVEY §7.3.4 tokenizer parity note).
STOPWORDS = (
    "a an and are as at be by for from has he in is it its of on or "
    "that the to was were will with this these those they them i you "
    "we our your not no so if then than but"
).split()

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def column_kind(dtype: T.DataType) -> str:
    if isinstance(dtype, _NUMERIC_TYPES):
        return S.NUMERIC
    return S.STRINGY


def _q(c: str) -> str:
    """Backtick-quote a column name for expr()."""
    return f"`{c}`"


# ~bytes of compressed input that justify one extra profile task (see
# ensure_parallelism): small enough that a 10 MB fact table still fans
# out to every local core, big enough that KB-sized dimension tables
# stay at 1-2 partitions instead of 32 near-empty ones.
_PROFILE_BYTES_PER_TASK = 256 << 10
# row-count floor (r13, ADVICE r12): compressed bytes under-estimate
# the per-row expression work on dense encodings (dictionary-encoded
# wide strings compress 50:1), so width is also floored by rows/task —
# ~25k rows ≈ the per-core slice that kept the 600k-row lineitem
# profile parallel. Row counts come from parquet footers (metadata
# only, no data read); non-parquet/unreadable inputs skip the floor.
_PROFILE_ROWS_PER_TASK = 25_000


def ensure_parallelism(df: DataFrame, size: ScanSize | None) -> DataFrame:
    """Spread expression-heavy work across all cores.

    A small parquet file scans as 1-2 partitions, serializing the
    profiler's ~100 expressions per row onto one core. On a real
    cluster the scan already yields many splits and this is a no-op;
    locally the one-off round-robin shuffle is far cheaper than the
    lost parallelism (measured 14s → 2s on 600k-row lineitem).

    ``size`` is :func:`catalog.scan_size` of ``df``: metadata only
    (avoids df.rdd, which instantiates the RDD lineage on every profile
    call — r02 verdict). Few files alone does NOT imply few scan
    partitions: the scan splits big files at maxPartitionBytes, and
    forcing a repartition of a 4×1 GB table would shuffle 4 GB for
    nothing — so only an input whose estimated split count is below
    the parallelism is widened. Inputs that cannot be stat'ed (None,
    e.g. non-local URIs) are left to the scan's own splitting.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if size is None or size.splits >= target:
        return df
    # r12: repartition to a WORK-PROPORTIONAL width, not a blanket
    # defaultParallelism — ~256 KiB of compressed input per task keeps
    # the expression work parallel for big tables (600k-row lineitem:
    # 10.8 MB → still all cores) while a 3 KB dimension table stops
    # fanning every downstream profile stage into `target` near-empty
    # tasks (the 4-small-table matcher profile paid ~32 task launches
    # per stage for 25-row inputs). At cluster scale real scans yield
    # >= target splits and never reach this branch, so the constant
    # sizes local/elastic small-table work only.
    width = min(target, max(1, -(-size.bytes // _PROFILE_BYTES_PER_TASK)))
    rows = size.rows() if width < target else None
    if rows is not None:
        # dense-encoding floor: bytes say "small" but many rows still
        # mean much expression work per task (see _PROFILE_ROWS_PER_TASK)
        width = min(target, max(width, -(-rows // _PROFILE_ROWS_PER_TASK)))
    if width <= size.splits:
        return df
    return df.repartition(width)


# ---------------------------------------------------------------------------
# Pass 1 — scalar stats (single wide aggregation)
# ---------------------------------------------------------------------------

def scalar_stats_long(
    df: DataFrame,
    table: str,
    columns: list[str] | None = None,
    exact: bool = True,
    coerce_numeric: bool = False,
    max_cols_per_pass: int = 200,
) -> DataFrame:
    """All registry stats for all columns as ``(table, col_name,
    stat_name, stat_value)``.

    Two plans, unioned lazily:

    * **non-distinct stats** — ONE wide aggregation (single scan, one
      result row) unpivoted with ``stack``;
    * **distinct counts** — a melt to (col_name, value) + groupBy with a
      single ``countDistinct`` per group. Putting N ``countDistinct``
      aggregates inside the wide agg would trigger Catalyst's Expand
      (row multiplication × N distinct groups — measured 25× slower on
      600k-row lineitem); the melt keeps it one ordinary shuffle.
      ``unique_ratio`` is derived by joining the two (tiny) results.

    With ``exact=False`` distinct counts use ``approx_count_distinct``
    inside the wide agg instead (no Expand for approx; the 100 TB mode).

    ``coerce_numeric=True`` reclassifies StringType columns as COERCED:
    string stats plus the numeric family over ``try_cast`` — the
    reference profiles all-string CSV frames and coerces EVERY column
    with ``pd.to_numeric(errors="coerce")`` (profiler.py:249), so on
    CSV ingest numeric ranges/quartiles/decimals would otherwise
    silently disappear (r10 golden-parity finding). Distinct counts for
    coerced columns stay string-grain (``col.nunique()`` of the raw
    strings); only the quartile/numeric stats read the casts.
    """
    cols = columns or df.columns
    # column-count hatch (r10 wide-table probe): ~16 aggregate
    # expressions per column means a 1,000-column catalog table builds
    # a ~16k-expression wide agg whose per-task partial-agg buffers
    # blow the executor heap (measured: OOM at 1,000 × 10k rows on the
    # 32-thread local JVM) and whose codegen unit defeats JIT well
    # before that. Profiling in <=max_cols_per_pass column chunks and
    # unioning the long results is plan-shape-identical per chunk and
    # keeps memory O(chunk); the output rows are exactly the same.
    if max_cols_per_pass and len(cols) > max_cols_per_pass:
        parts = [
            scalar_stats_long(
                df,
                table,
                columns=cols[i : i + max_cols_per_pass],
                exact=exact,
                coerce_numeric=coerce_numeric,
                max_cols_per_pass=max_cols_per_pass,
            )
            for i in range(0, len(cols), max_cols_per_pass)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    kinds = _profile_kinds(df, coerce_numeric)
    size = scan_size(df)
    df = ensure_parallelism(df, size)
    wide_long = _wide_stats_long(df, table, cols, kinds, exact)
    if not exact:
        return wide_long
    keys = [(table, c, kinds[c]) for c in cols]
    mn, ms = _kind_melts(df, cols, kinds, base_k=0)
    return wide_long.unionByName(
        _exact_distinct_long(
            mn, ms, keys,
            small=size is not None and size.bytes < _SMALL_PROFILE_BYTES,
        )
    )


def _profile_kinds(df: DataFrame, coerce_numeric: bool) -> dict[str, str]:
    kinds = {f.name: column_kind(f.dataType) for f in df.schema.fields}
    if coerce_numeric:
        for f in df.schema.fields:
            if kinds[f.name] == S.STRINGY and isinstance(f.dataType, T.StringType):
                kinds[f.name] = S.COERCED
    return kinds


def _wide_stats_long(
    df: DataFrame, table: str, cols: list[str], kinds: dict[str, str], exact: bool
) -> DataFrame:
    """The single wide aggregation of :func:`scalar_stats_long` (one
    scan, one result row, unpivoted with ``stack``); with
    ``exact=False`` the approx distinct/quartile sketches and the
    derived ``unique_ratio`` ride the same agg."""
    # registry distinct stats are always computed outside the wide agg
    # (melt in exact mode, approx_count_distinct appended below); in
    # exact mode the quartiles also move to the melt chain — see below
    skip = {"distinct_num", "unique_ratio"}
    quartile_p = {"q1": 1, "q2": 2, "q3": 3}
    if exact:
        skip = skip | set(quartile_p)
    # the whole wide agg is shipped as SQL text in ONE selectExpr call:
    # building hundreds of Column trees costs a py4j round-trip per
    # operator (~1s of driver time per table at 10 columns; the text
    # path parses to the identical plan)
    aggs = []
    for i, c in enumerate(cols):
        for st in S.stats_for_kind(kinds[c]):
            if st.name in skip:
                continue
            if not exact and st.name in quartile_p:
                # 100 TB path: approx_percentile sketches (bounded
                # memory) instead of the exact percentile value buffer;
                # the three quartiles share ONE sketch via Catalyst's
                # aggregate dedup, same as the exact percentile child
                k = quartile_p[st.name]
                aggs.append(
                    f"element_at(approx_percentile(try_cast({_q(c)} as double),"
                    f" array(0.25D, 0.5D, 0.75D), 10000), {k}) AS `v{i}_{st.name}`"
                )
                continue
            aggs.append(f"({st.ssql(_q(c))}) AS `v{i}_{st.name}`")
        if not exact:
            aggs.append(
                f"CAST(approx_count_distinct({_q(c)}) AS DOUBLE) AS `v{i}_distinct_num`"
            )
    one = df.selectExpr(*aggs)
    parts = []
    for i, c in enumerate(cols):
        for st in S.stats_for_kind(kinds[c]):
            if st.name in skip:
                continue
            parts.append(f"'{c}', '{st.name}', `v{i}_{st.name}`")
        if not exact:
            parts.append(f"'{c}', 'distinct_num', `v{i}_distinct_num`")
    stack_expr = f"stack({len(parts)}, {', '.join(parts)}) as (col_name, stat_name, stat_value)"
    wide_long = one.select(F.lit(table).alias("table"), F.expr(stack_expr))

    if exact:
        return wide_long
    # approx path also derives unique_ratio from the approx count
    ur_parts = []
    for i, c in enumerate(cols):
        ur_parts.append(
            f"'{c}', 'unique_ratio', `v{i}_distinct_num` / nullif(`v{i}_row_num`, 0.0)"
        )
    ur_expr = (
        f"stack({len(ur_parts)}, {', '.join(ur_parts)})"
        " as (col_name, stat_name, stat_value)"
    )
    ur_long = one.select(F.lit(table).alias("table"), F.expr(ur_expr))
    return wide_long.unionByName(ur_long)


def _kind_melts(df, cols, kinds, base_k: int):
    """Kind-split melts for the exact distinct/quartile chain.

    Each column is DICTIONARY-ENCODED to one integer key ``_ck``
    (``base_k + position``) instead of carrying (table, col_name)
    strings: the distinct-value grain of a big table shuffles
    (int, double) rows through the range exchange — guide-§2.3
    "narrower types" — and melts of MANY tables can be unioned into ONE
    chain (fused multi-table profiling, r12) because the key space is
    made disjoint by ``base_k``. The caller keeps the key → (table,
    col, kind) map and hands it to :func:`_exact_distinct_long`.

    Numeric/coerced columns melt as NATIVE doubles ('num' = pure
    numeric: distinct counts + quartiles; 'co' = coerced string:
    quartiles only — its distinct counts stay string-grain); non-NUMERIC
    columns melt as strings."""
    num_cols = [c for c in cols if kinds[c] in (S.NUMERIC, S.COERCED)]
    str_cols = [c for c in cols if kinds[c] != S.NUMERIC]
    pos = {c: base_k + i for i, c in enumerate(cols)}
    mn = ms = None
    if num_cols:
        melt_parts = [
            f"{pos[c]}, try_cast({_q(c)} as double)" for c in num_cols
        ]
        mn = df.selectExpr(
            f"stack({len(melt_parts)}, {', '.join(melt_parts)}) as (_ck, v)"
        )
    if str_cols:
        melt_parts = [f"{pos[c]}, CAST({_q(c)} AS STRING)" for c in str_cols]
        ms = df.selectExpr(
            f"stack({len(melt_parts)}, {', '.join(melt_parts)}) as (_ck, s)"
        )
    return mn, ms


def _ck_decode(df, keys):
    """Map the dictionary key ``_ck`` back to (table, col_name) literal
    columns plus the per-column kind — evaluated only on #columns-row
    frames, never inside the heavy chain."""
    t_arr = F.array(*[F.lit(t) for t, _, _ in keys])
    c_arr = F.array(*[F.lit(c) for _, c, _ in keys])
    k_arr = F.array(*[F.lit(k) for _, _, k in keys])
    return (
        df.withColumn("table", F.element_at(t_arr, F.col("_ck") + 1))
        .withColumn("col_name", F.element_at(c_arr, F.col("_ck") + 1))
        .withColumn("_ckind", F.element_at(k_arr, F.col("_ck") + 1))
    )


# inputs whose TOTAL compressed size is provably below this run the
# exact quartile chain with a per-column window instead of the
# range-partitioned two-level machinery (r13): the two-level shape
# exists to kill the one-task-per-column sort straggler on BIG tables
# (600k-row lineitem), but it costs a boundary-sampling job, a persist
# materialization and an offsets broadcast — ~4 extra driver-scheduled
# jobs that dominate small-table profiling (matcher/golden CSVs).
# Cumulative integer sums are associative, so both shapes produce
# bit-identical cum/nnum and therefore identical quartiles; inputs
# whose size cannot be stat'ed take the big-table path.
_SMALL_PROFILE_BYTES = 4 << 20


def _exact_distinct_long(
    melted_num,
    melted_str,
    keys,
    small: bool = False,
) -> DataFrame:
    """Distinct counts + exact quartiles from kind-split melts
    (:func:`_kind_melts`) as ``(table, col_name, stat_name,
    stat_value)`` long rows. ``keys`` is the dictionary: ``_ck`` →
    ``(table, col_name, kind)``.

    Design notes (the same arithmetic as the per-table r12 chain, keyed
    by the int dictionary key ``_ck`` instead of ``col_name`` — so the
    heavy chain shuffles (int, double) rows, guide-§2.3 narrower types,
    and melts of MANY tables fuse into one chain: the range exchange,
    its boundary-sampling pass, the persist and the offset windows run
    once per profiling job instead of once per table):

    * one melted groupBy per kind keeps distinct counting one ordinary
      shuffle (a per-column union of native countDistinct branches was
      measured SLOWER; countDistinct inside the wide agg triggers
      Catalyst's Expand — measured 25x slower on 600k-row lineitem);
    * the numeric chain computes the EXACT quartiles (P9) from the
      distinct-value counts with TWO-LEVEL cumulative sums: the
      distinct grain is range-partitioned by (_ck, v), local running
      sums get per-(_ck, bucket) offsets + per-_ck totals broadcast
      back — no task ever sorts more than its range slice (the
      one-window-per-column shape sorted a near-unique column's whole
      distinct grain in a single task). Integer count addition is
      associative, so cum/nnum are bit-identical and the R-7
      interpolation replicates Spark's ``Percentile.getPercentile`` /
      DuckDB ``quantile_cont`` operation-for-operation;
    * the bucketed grain must be PERSISTED: left lazy, the offsets
      branch and the main branch each instantiate the range exchange
      and its SAMPLED boundaries can differ between the two runs,
      silently dropping rows at the join (observed: distinct_num 9868
      vs 10000 at sf0.01). One materialization = one partitioner =
      consistent _pid on both sides; the cached state is the
      distinct-value grain, the same bound as the shuffle itself;
    * COERCED columns ride the numeric chain for exact quartiles (over
      try_cast) but keep STRING-grain distinct counts — their
      distinct_num/unique_ratio rows come from the string branch.
    """
    branches = []
    if melted_num is not None:
        vc = (
            melted_num.groupBy("_ck", "v")
            .agg(F.count(F.lit(1)).alias("cnt"))
            # null cells carry cnt for the row total but rank 0
            .withColumn(
                "cntn",
                F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(F.lit(0)),
            )
        )
        if small:
            # provably-small input (see _SMALL_PROFILE_BYTES): one
            # window per column — a column's whole distinct grain fits
            # one task, and this shape skips the boundary-sampling job,
            # the persist and the offsets broadcast. Identical integer
            # cumulative sums ⇒ identical quartiles.
            wl1 = (
                Window.partitionBy("_ck")
                .orderBy(F.asc_nulls_first("v"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            x = vc.withColumn("cum", F.sum("cntn").over(wl1)).withColumn(
                "nnum", F.sum("cntn").over(Window.partitionBy("_ck"))
            )
        else:
            n_parts = int(vc.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            d_ = persist(
                vc.repartitionByRange(n_parts, F.asc("_ck"), F.asc_nulls_first("v"))
                .withColumn("_pid", F.spark_partition_id())
            )
            wl = (
                Window.partitionBy("_ck", "_pid")
                .orderBy(F.asc_nulls_first("v"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            # per-(_ck, bucket) totals; bucket offsets cumulative in _pid
            # order (range partitions are v-ordered within a column),
            # per-column totals from the same tiny frame
            offs = d_.groupBy("_ck", "_pid").agg(F.sum("cntn").alias("_w"))
            wp = (
                Window.partitionBy("_ck")
                .orderBy("_pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            offs = offs.withColumn(
                "_off", F.coalesce(F.sum("_w").over(wp), F.lit(0))
            ).withColumn("_nnum", F.sum("_w").over(Window.partitionBy("_ck")))
            x = (
                d_.withColumn("_lcum", F.sum("cntn").over(wl))
                .join(
                    F.broadcast(offs.select("_ck", "_pid", "_off", "_nnum")),
                    ["_ck", "_pid"],
                )
                .withColumn("cum", F.col("_lcum") + F.col("_off"))
                .withColumn("nnum", F.col("_nnum"))
            )
        aggs2 = [
            F.sum(F.when(F.col("v").isNotNull(), 1).otherwise(0))
            .cast("double")
            .alias("dn"),
            F.sum("cnt").cast("double").alias("rn"),
        ]
        for nm, p in (("q1", 0.25), ("q2", 0.5), ("q3", 0.75)):
            # replicate Percentile.getPercentile: position =
            # (count-1)*p (count->double), lower/higher = floor/ceil
            h = (F.col("nnum") - F.lit(1)).cast("double") * F.lit(p)
            for side, rank in (("lo", F.floor(h) + F.lit(1)), ("hi", F.ceil(h) + F.lit(1))):
                covers = (
                    F.col("v").isNotNull()
                    & ((F.col("cum") - F.col("cntn")) < rank)
                    & (rank <= F.col("cum"))
                )
                aggs2.append(F.max(F.when(covers, F.col("v"))).alias(f"{nm}_{side}"))
            aggs2.append(F.max(h).alias(f"{nm}_h"))
        g = x.groupBy("_ck").agg(*aggs2)
        for nm in ("q1", "q2", "q3"):
            # Percentile's exact arithmetic: early-return lowerKey
            # when the two ranks coincide, else
            # (higher-position)*lowerKey + (position-lower)*higherKey
            # — NOT lo + (hi-lo)*frac, which differs in final bits
            h = F.col(f"{nm}_h")
            lo_d = F.floor(h).cast("double")
            hi_d = F.ceil(h).cast("double")
            g = g.withColumn(
                nm,
                F.when(hi_d == lo_d, F.col(f"{nm}_lo")).otherwise(
                    (hi_d - h) * F.col(f"{nm}_lo") + (h - lo_d) * F.col(f"{nm}_hi")
                ),
            )
        g = _ck_decode(g, keys)
        # one stack branch per key kind present (NUMERIC / COERCED);
        # when both consume g, persist the #columns-row result so the
        # whole melt/window chain below it runs once, not per branch
        # (r13 — in the small-input path there is no d_ cache to stop
        # the re-derivation)
        stacks = {
            S.NUMERIC: "stack(5, 'distinct_num', dn, 'unique_ratio', dn / nullif(rn, 0.0),"
            " 'q1', q1, 'q2', q2, 'q3', q3)",
            S.COERCED: "stack(3, 'q1', q1, 'q2', q2, 'q3', q3)",
        }
        present = [k for k in stacks if k in {kind for _, _, kind in keys}]
        if len(present) == 2:
            g = persist(g)
        for kind in present:
            branches.append(
                g.where(F.col("_ckind") == kind).selectExpr(
                    "table", "col_name", f"{stacks[kind]} as (stat_name, stat_value)"
                )
            )
    if melted_str is not None:
        sg = (
            melted_str.groupBy("_ck", "s")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("_ck")
            .agg(
                F.sum(F.when(F.col("s").isNotNull(), 1).otherwise(0))
                .cast("double")
                .alias("dn"),
                F.sum("cnt").cast("double").alias("rn"),
            )
        )
        branches.append(
            _ck_decode(sg, keys).selectExpr(
                "table",
                "col_name",
                "stack(2, 'distinct_num', dn,"
                " 'unique_ratio', dn / nullif(rn, 0.0))"
                " as (stat_name, stat_value)",
            )
        )
    dist_long = branches[0]
    for b in branches[1:]:
        dist_long = dist_long.unionByName(b)
    return dist_long.select("table", "col_name", "stat_name", "stat_value")


def approx_sketch_stats_long(
    df: DataFrame,
    table: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """ONLY the stats whose ``exact=False`` implementation is a sketch
    — approx quartiles, ``approx_count_distinct`` and the derived
    ``unique_ratio`` — as ``(table, col_name, stat_name, stat_value)``.

    The full approx profile (``scalar_stats_long(exact=False)``)
    re-evaluates every shared exact expression alongside the sketches;
    a contract check comparing approx vs exact therefore paid a second
    full wide-agg scan just to recompute values that are the SAME
    expression on both sides. This helper is that wide agg minus the
    shared expressions — one scan, sketch aggregates only (guide §1.2:
    don't compute things you throw away). The sketch expressions are
    copied verbatim from the ``exact=False`` branch of
    :func:`scalar_stats_long` above; keep the two in sync."""
    cols = columns or df.columns
    kinds = {f.name: column_kind(f.dataType) for f in df.schema.fields}
    df = ensure_parallelism(df, scan_size(df))
    quartile_p = {"q1": 1, "q2": 2, "q3": 3}
    aggs = []
    parts = []
    for i, c in enumerate(cols):
        names = {st.name for st in S.stats_for_kind(kinds[c])}
        for nm, k in quartile_p.items():
            if nm not in names:
                continue
            aggs.append(
                f"element_at(approx_percentile(try_cast({_q(c)} as double),"
                f" array(0.25D, 0.5D, 0.75D), 10000), {k}) AS `v{i}_{nm}`"
            )
            parts.append(f"'{c}', '{nm}', `v{i}_{nm}`")
        aggs.append(
            f"CAST(approx_count_distinct({_q(c)}) AS DOUBLE) AS `v{i}_distinct_num`"
        )
        aggs.append(f"CAST(count(*) AS DOUBLE) AS `v{i}_row_num`")
        parts.append(f"'{c}', 'distinct_num', `v{i}_distinct_num`")
        parts.append(
            f"'{c}', 'unique_ratio', `v{i}_distinct_num` / nullif(`v{i}_row_num`, 0.0)"
        )
    one = df.selectExpr(*aggs)
    stack_expr = (
        f"stack({len(parts)}, {', '.join(parts)})"
        " as (col_name, stat_name, stat_value)"
    )
    return one.select(F.lit(table).alias("table"), F.expr(stack_expr))


# ---------------------------------------------------------------------------
# Pass 2 — value-grain stats (modal value, pattern, Benford, bins)
# ---------------------------------------------------------------------------

def _melt_k(df: DataFrame, columns: list[str], base_k: int) -> DataFrame:
    """Unpivot to ``(_ck, value_str)`` cell grain with the column
    dictionary-encoded to ``base_k + position`` — the cell-grain
    shuffles of the value/token passes carry an int key instead of a
    (table, col_name) string pair (guide-§2.3 narrower types), and
    melts of many tables union into one fused chain (r12)."""
    parts = [f"{base_k + i}, CAST({_q(c)} AS STRING)" for i, c in enumerate(columns)]
    stack_expr = f"stack({len(columns)}, {', '.join(parts)}) as (_ck, value_str)"
    return df.select(F.expr(stack_expr))


def _ck_decode2(df, keys):
    """(table, col_name) literal decode of ``_ck`` for the value/token
    passes — evaluated on #columns-row frames only."""
    t_arr = F.array(*[F.lit(t) for t, _ in keys])
    c_arr = F.array(*[F.lit(c) for _, c in keys])
    return df.withColumn(
        "table", F.element_at(t_arr, F.col("_ck") + 1)
    ).withColumn("col_name", F.element_at(c_arr, F.col("_ck") + 1))


def value_stats(df: DataFrame, table: str, columns: list[str] | None = None) -> DataFrame:
    """Modal value, dominant pattern, Benford first digit, fullest
    equi-width/equi-depth bins — one row per column.

    Ties break deterministically by value ascending (the reference's
    ``Counter.most_common`` is insertion-ordered, i.e. nondeterministic;
    we fix a total order).
    """
    cols = columns or df.columns
    df = ensure_parallelism(df, scan_size(df))
    return _value_stats_core(
        _melt_k(df, cols, base_k=0), [(table, c) for c in cols]
    )


def _value_stats_core(melted: DataFrame, keys) -> DataFrame:
    """The value-pass chain over an already-melted ``(_ck, value_str)``
    frame (``keys``: ``_ck`` → (table, col_name)). Keyed by the int
    dictionary key throughout, so the cell-grain shuffles carry an int
    instead of strings and melts of MANY tables union into ONE chain
    (fused multi-table profiling, r12): the cell-grain shuffle and the
    rank/total windows run once per profiling job instead of once per
    table — identical values (disjoint column groups)."""
    melted = melted.where(F.col("value_str").isNotNull() & (F.col("value_str") != ""))

    # ONE linear chain — no diamond consumption, so nothing depends on
    # Spark's (best-effort) exchange reuse and no caching is needed:
    #
    #   cells → (col, value) counts            [cell-grain shuffle]
    #        → stack into (kind, key) rows      [distinct-value grain]
    #        → (col, kind, key) counts          [small shuffle]
    #        → windows per (col, kind)          [rank / totals / range]
    #        → one groupBy(col) assembly        [tiny]
    #
    # kinds: 'val' = the raw value (modal/histogram, P13),
    #        'pat' = symbolic pattern (P17),
    #        'dig' = Benford first digit (P11),
    #        'num' = canonical double rendering (P10/P14/P15).
    # Every stat is a function of the value, so per-cell regex work
    # becomes per-distinct-value work, weighted by the counts.
    vc = melted.groupBy("_ck", "value_str").agg(F.count(F.lit(1)).alias("cnt"))
    kc = (
        vc.withColumn("pat", symbolic_pattern(F.col("value_str")))
        .select(
            "_ck",
            "cnt",
            F.expr(
                "stack(4,"
                " 'val', value_str,"
                " 'pat', pat,"
                " 'dig', nullif(substring(regexp_replace(value_str, '[^0-9]', ''), 1, 1), ''),"
                " 'num', CAST(try_cast(value_str AS DOUBLE) AS STRING)"
                ") as (kind, key)"
            ),
        )
        .where(F.col("key").isNotNull())
        .groupBy("_ck", "kind", "key")
        .agg(F.sum("cnt").alias("cnt"))
    )

    wo = Window.partitionBy("_ck", "kind").orderBy(F.desc("cnt"), F.asc("key"))
    wp = Window.partitionBy("_ck", "kind")
    x = (
        kc.withColumn("rn", F.row_number().over(wo))
        .withColumn("total", F.sum("cnt").over(wp))
        .withColumn("vnum", F.expr("try_cast(key as double)"))
        .withColumn("mn", F.min("vnum").over(wp))
        .withColumn("mx", F.max("vnum").over(wp))
    )
    # equi-width bucket (P14) per distinct numeric value, then a bucket
    # count via a second (still distinct-grain) window
    x = x.withColumn(
        "bucket",
        F.when(
            (F.col("kind") == "num") & (F.col("mx") > F.col("mn")),
            F.least(
                F.lit(9),
                F.floor((F.col("vnum") - F.col("mn")) / ((F.col("mx") - F.col("mn")) / 10)),
            ),
        ),
    )
    wb = Window.partitionBy("_ck", "kind", "bucket")
    x = x.withColumn("bucket_cnt", F.sum(F.when(F.col("bucket").isNotNull(), F.col("cnt"))).over(wb))

    is_val = F.col("kind") == "val"
    is_pat = F.col("kind") == "pat"
    is_dig = F.col("kind") == "dig"
    is_num = F.col("kind") == "num"
    # fullest equi-width bin = max by (bucket_cnt desc, bucket asc);
    # encoded as max(struct(bucket_cnt, -bucket))
    ew_pick = F.max(
        F.when(
            is_num & F.col("bucket").isNotNull(),
            F.struct(F.col("bucket_cnt").alias("bc"), (-F.col("bucket")).alias("negb")),
        )
    )
    out = (
        x.groupBy("_ck")
        .agg(
            F.max(F.when(is_val & (F.col("rn") == 1), F.col("key"))).alias("histogram"),
            F.max(F.when(is_val & (F.col("rn") == 1), F.col("cnt")))
            .cast("double")
            .alias("histogram_freq"),
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            is_val & (F.col("rn") <= TOP_K_HISTOGRAM),
                            F.struct(
                                F.col("key").alias("value_str"),
                                F.col("cnt").cast("double").alias("cnt"),
                            ),
                        )
                    )
                )
            ).alias("histogram_topk"),
            F.max(F.when(is_pat & (F.col("rn") == 1), F.col("key"))).alias("dominant_pattern"),
            F.max(F.when(is_dig & (F.col("rn") == 1), F.col("key"))).alias("first_digit"),
            F.when(
                F.max(F.when(is_dig, F.lit(1))).isNotNull(),
                F.map_from_entries(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                is_dig,
                                F.struct(
                                    F.col("key").alias("digit"),
                                    (
                                        F.col("cnt").cast("double")
                                        / F.col("total").cast("double")
                                    ).alias("share"),
                                ),
                            )
                        )
                    )
                ),
            ).alias("first_digit_distribution"),
            (
                F.max(F.when(is_num, F.col("cnt"))).cast("double")
                / F.max(F.when(is_num, F.col("total"))).cast("double")
            ).alias("most_freq_value_ratio"),
            ew_pick.alias("_ew"),
            # equi-depth fullest bin (P15): ntile(10) bucket sizes depend
            # only on n (first n%10 tiles get ceil(n/10) rows, the rest
            # floor(n/10)), so the fullest tile is ALWAYS tile 1 whenever
            # any numeric value exists — the former per-column global
            # sort computed a constant. Closed form, identical output.
            F.max(F.when(is_num, F.lit("1"))).alias("equi_depth_bin"),
        )
        .withColumn("equi_width_bin", (-F.col("_ew.negb")).cast("string"))
        .drop("_ew")
    )
    out = _ck_decode2(out, keys)
    # column order compatibility: col_name first / table last, as the
    # per-table shape had
    rest = [c for c in out.columns if c not in ("_ck", "table", "col_name")]
    return out.select("col_name", *rest, "table")


# ---------------------------------------------------------------------------
# Pass 3 — token stats (word classes, top keywords)
# ---------------------------------------------------------------------------

def token_stats(df: DataFrame, table: str, columns: list[str] | None = None) -> DataFrame:
    """Word-class counts + top-k keyword map per column (P5, P7).

    Tokenizer: lowercase, split on whitespace runs — documented delta
    from the reference's NLTK ``word_tokenize`` (SURVEY §7.3.4).
    """
    cols = columns or [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    if not cols:
        return df.sparkSession.createDataFrame(
            [],
            "col_name string, words_unique double, words_alphabet double,"
            " words_numeric double, words_length_avg double,"
            " top_keywords map<string,double>, table string",
        )
    return _token_stats_core(
        _melt_k(ensure_parallelism(df, scan_size(df)), cols, base_k=0),
        [(table, c) for c in cols],
    )


def _token_stats_core(melted: DataFrame, keys) -> DataFrame:
    """The token-pass chain over an already-melted ``(_ck, value_str)``
    frame (``keys``: ``_ck`` → (table, col_name)) — int-keyed so melts
    of many tables fuse into one chain and the token-grain shuffle
    carries an int instead of strings (r12; see
    :func:`_value_stats_core`)."""
    melted = melted.where(
        F.col("value_str").isNotNull() & (F.col("value_str") != "")
    )
    toks = melted.select(
        "_ck",
        F.explode(F.split(F.lower(F.col("value_str")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")

    # ONE linear chain (same design as value_stats): token counts per
    # (col, tok), then every stat derives from that distinct-token
    # grain in a single window + groupBy — the explode and the
    # token-grain shuffle happen exactly once. Eligible keywords sort
    # first in the window, so rn <= K over eligible rows is the top-k.
    tc = toks.groupBy("_ck", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    is_alpha = F.col("tok").rlike(r"^[a-z]+$")
    elig = is_alpha & ~F.col("tok").isin(STOPWORDS)
    wk = Window.partitionBy("_ck").orderBy(
        F.desc(elig.cast("int")), F.desc("cnt"), F.asc("tok")
    )
    x = tc.withColumn("elig", elig).withColumn("rn", F.row_number().over(wk))
    out = x.groupBy("_ck").agg(
        F.count(F.lit(1)).cast("double").alias("words_unique"),
        F.sum(F.when(is_alpha, F.col("cnt")).otherwise(0)).cast("double").alias("words_alphabet"),
        F.sum(F.when(F.col("tok").rlike(r"^-?\d+(\.\d+)?$"), F.col("cnt")).otherwise(0))
        .cast("double")
        .alias("words_numeric"),
        (
            F.sum(F.length("tok") * F.col("cnt")).cast("double")
            / F.sum("cnt").cast("double")
        ).alias("words_length_avg"),
        F.when(
            F.max(F.when(F.col("elig"), F.lit(1))).isNotNull(),
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("elig") & (F.col("rn") <= TOP_K_KEYWORDS),
                            F.struct("tok", F.col("cnt").cast("double").alias("cnt")),
                        )
                    )
                )
            ),
        ).alias("top_keywords"),
    )
    out = _ck_decode2(out, keys)
    rest = [c for c in out.columns if c not in ("_ck", "table", "col_name")]
    return out.select("col_name", *rest, "table")


# ---------------------------------------------------------------------------
# Assembly
# ---------------------------------------------------------------------------

def profile_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    exact: bool = True,
    with_tokens: bool = True,
    with_values: bool = True,
    coerce_numeric: bool = False,
) -> DataFrame:
    """Full profile: one row per column, reference stat names.

    Collects the (tiny, #columns-sized) per-pass results and assembles
    a ``profiles`` DataFrame with ``unique_id = table::column``
    (reference profiler.py:303) — :func:`profile_tables` over one table.
    """
    return profile_tables(
        spark,
        {table: df},
        exact=exact,
        with_tokens=with_tokens,
        with_values=with_values,
        coerce_numeric=coerce_numeric,
    )


def _assemble_profile_rows(df, table, scalar, vrows, trows) -> list:
    """Driver-side assembly of one table's profile rows from the
    collected per-pass dicts (shared by :func:`profile_table` and the
    fused multi-table collect in :func:`profile_tables`)."""
    kinds = {f.name: column_kind(f.dataType) for f in df.schema.fields}
    out_rows = []
    for c in df.columns:
        g = lambda s: scalar.get((c, s))  # noqa: E731
        v = vrows.get(c, {})
        t = trows.get(c, {})
        ratios = {
            "integer": g("type_ratio_integer") or 0.0,
            "float": g("type_ratio_float") or 0.0,
            "date": g("type_ratio_date") or 0.0,
            "boolean": g("type_ratio_boolean") or 0.0,
        }
        null_ratio = g("null_ratio") or 0.0
        if null_ratio >= 0.999:
            # an all-null column is 'empty' regardless of physical type
            basic = "empty"
        elif kinds[c] == S.NUMERIC:
            basic = "float" if (g("max_decimals") or 0) > 0 else "integer"
        elif ratios["date"] >= TYPE_THRESHOLD:
            basic = "date"
        elif ratios["boolean"] >= TYPE_THRESHOLD:
            basic = "boolean"
        elif ratios["integer"] >= TYPE_THRESHOLD:
            basic = "integer"
        elif ratios["integer"] + ratios["float"] >= TYPE_THRESHOLD:
            basic = "float"
        elif (g("unique_ratio") or 1.0) < 0.1:
            basic = "categorical"
        else:
            basic = "string"
        out_rows.append(
            Row(
                table=table,
                column=c,
                unique_id=f"{table}::{c}",
                basic_data_type=basic,
                row_num=g("row_num"),
                null_ratio=null_ratio,
                distinct_num=g("distinct_num"),
                unique_ratio=g("unique_ratio"),
                min_len=g("min_len"),
                max_len=g("max_len"),
                avg_len=g("avg_len"),
                characters_alphabet=g("characters_alphabet"),
                characters_numeric=g("characters_numeric"),
                characters_punctuation=g("characters_punctuation"),
                characters_miscellaneous=g("characters_miscellaneous"),
                cells_alphabet=g("cells_alphabet"),
                cells_numeric=g("cells_numeric"),
                cells_punctuation=g("cells_punctuation"),
                numeric_min=g("numeric_min"),
                numeric_max=g("numeric_max"),
                numeric_mean=g("numeric_mean"),
                numeric_std=g("numeric_std"),
                q1=g("q1"),
                q2=g("q2"),
                q3=g("q3"),
                max_digits=g("max_digits"),
                max_decimals=g("max_decimals"),
                type_ratio_integer=ratios["integer"],
                type_ratio_float=ratios["float"],
                type_ratio_date=ratios["date"],
                type_ratio_boolean=ratios["boolean"],
                histogram=v.get("histogram"),
                histogram_freq=v.get("histogram_freq"),
                histogram_topk=v.get("histogram_topk"),
                dominant_pattern=v.get("dominant_pattern"),
                first_digit=v.get("first_digit"),
                first_digit_distribution=v.get("first_digit_distribution"),
                most_freq_value_ratio=v.get("most_freq_value_ratio"),
                equi_width_bin=v.get("equi_width_bin"),
                equi_depth_bin=v.get("equi_depth_bin"),
                words_unique=t.get("words_unique"),
                words_alphabet=t.get("words_alphabet"),
                words_numeric=t.get("words_numeric"),
                words_length_avg=t.get("words_length_avg"),
                top_keywords=t.get("top_keywords"),
            )
        )
    return out_rows


PROFILE_SCHEMA = T.StructType(
    [T.StructField(n, tpe, True) for n, tpe in [
        ("table", T.StringType()),
        ("column", T.StringType()),
        ("unique_id", T.StringType()),
        ("basic_data_type", T.StringType()),
        ("row_num", T.DoubleType()),
        ("null_ratio", T.DoubleType()),
        ("distinct_num", T.DoubleType()),
        ("unique_ratio", T.DoubleType()),
        ("min_len", T.DoubleType()),
        ("max_len", T.DoubleType()),
        ("avg_len", T.DoubleType()),
        ("characters_alphabet", T.DoubleType()),
        ("characters_numeric", T.DoubleType()),
        ("characters_punctuation", T.DoubleType()),
        ("characters_miscellaneous", T.DoubleType()),
        ("cells_alphabet", T.DoubleType()),
        ("cells_numeric", T.DoubleType()),
        ("cells_punctuation", T.DoubleType()),
        ("numeric_min", T.DoubleType()),
        ("numeric_max", T.DoubleType()),
        ("numeric_mean", T.DoubleType()),
        ("numeric_std", T.DoubleType()),
        ("q1", T.DoubleType()),
        ("q2", T.DoubleType()),
        ("q3", T.DoubleType()),
        ("max_digits", T.DoubleType()),
        ("max_decimals", T.DoubleType()),
        ("type_ratio_integer", T.DoubleType()),
        ("type_ratio_float", T.DoubleType()),
        ("type_ratio_date", T.DoubleType()),
        ("type_ratio_boolean", T.DoubleType()),
        ("histogram", T.StringType()),
        ("histogram_freq", T.DoubleType()),
        ("histogram_topk", T.MapType(T.StringType(), T.DoubleType())),
        ("dominant_pattern", T.StringType()),
        ("first_digit", T.StringType()),
        ("first_digit_distribution", T.MapType(T.StringType(), T.DoubleType())),
        ("most_freq_value_ratio", T.DoubleType()),
        ("equi_width_bin", T.StringType()),
        ("equi_depth_bin", T.StringType()),
        ("words_unique", T.DoubleType()),
        ("words_alphabet", T.DoubleType()),
        ("words_numeric", T.DoubleType()),
        ("words_length_avg", T.DoubleType()),
        ("top_keywords", T.MapType(T.StringType(), T.DoubleType())),
    ]]
)


def profile_tables(
    spark: SparkSession, tables: dict[str, DataFrame], exact: bool = True, **kw
) -> DataFrame:
    """Profile many tables into one ``profiles`` DataFrame.

    r12 optimization: instead of one independent profile (2–3 Spark
    jobs + a driver collect each) PER TABLE, the per-pass long frames
    of ALL tables are unioned lazily and collected in at most three
    jobs total (scalar / value / token), still submitted concurrently.
    The per-table subtrees execute as parallel branches of one job, so
    small-table profiling stops paying #tables × per-job fixed cost
    (driver scheduling was the wall for the 4-table matcher profiles);
    values are identical — same pass expressions, same driver-side
    assembly, rows in the same table-input order.
    """
    from concurrent.futures import ThreadPoolExecutor

    names = list(tables)
    if not names:
        raise ValueError("profile_tables needs at least one table")
    with_tokens = kw.get("with_tokens", True)
    with_values = kw.get("with_values", True)
    coerce_numeric = kw.get("coerce_numeric", False)

    def union_all(frames):
        out = None
        for f in frames:
            out = f if out is None else out.unionByName(f)
        return out

    # r12 fusion, level 2: besides collecting all tables in <=3 jobs,
    # the per-table MELT CHAINS are fused — every pass melts each table
    # into one (table, col, ...) keyed frame, so the exact
    # distinct/quartile chain (range exchange + boundary sampling +
    # persist + offset windows), the value chain and the token chain
    # each run ONCE for the whole table set instead of once per table.
    # Values identical: every key gains the table column, so groups are
    # the same disjoint (table, col) sets the per-table chains computed.
    chunk_n = 200  # scalar_stats_long's max_cols_per_pass default
    wide_parts, mn_parts, ms_parts, vmelts, tmelts = [], [], [], [], []
    dist_keys, v_keys, t_keys = [], [], []
    # the fused chain takes the small-input quartile path only when
    # EVERY table is provably small (the melts union into one chain)
    all_small = True
    for n in names:
        df0 = tables[n]
        size = scan_size(df0)
        if size is None or size.bytes >= _SMALL_PROFILE_BYTES:
            all_small = False
        kinds = _profile_kinds(df0, coerce_numeric)
        cols = df0.columns
        df0 = ensure_parallelism(df0, size)
        for i in range(0, len(cols), chunk_n):
            chunk = cols[i : i + chunk_n]
            wide_parts.append(_wide_stats_long(df0, n, chunk, kinds, exact))
            if exact:
                mn, ms = _kind_melts(df0, chunk, kinds, base_k=len(dist_keys))
                dist_keys.extend((n, c, kinds[c]) for c in chunk)
                if mn is not None:
                    mn_parts.append(mn)
                if ms is not None:
                    ms_parts.append(ms)
        if with_values:
            vmelts.append(_melt_k(df0, cols, base_k=len(v_keys)))
            v_keys.extend((n, c) for c in cols)
        if with_tokens:
            scols = [
                f.name
                for f in df0.schema.fields
                if isinstance(f.dataType, T.StringType)
            ]
            if scols:
                tmelts.append(_melt_k(df0, scols, base_k=len(t_keys)))
                t_keys.extend((n, c) for c in scols)
    scalar_u = union_all(wide_parts)
    value_u = _value_stats_core(union_all(vmelts), v_keys) if vmelts else None
    token_u = _token_stats_core(union_all(tmelts), t_keys) if tmelts else None
    with scope(), ThreadPoolExecutor(max_workers=3) as pool:
        if exact and (mn_parts or ms_parts):
            scalar_u = scalar_u.unionByName(
                _exact_distinct_long(
                    union_all(mn_parts), union_all(ms_parts), dist_keys,
                    small=all_small,
                )
            )
        f_scalar = pool.submit(scalar_u.collect)
        f_value = pool.submit(value_u.collect) if value_u is not None else None
        f_token = pool.submit(token_u.collect) if token_u is not None else None
        scalar: dict[str, dict] = {n: {} for n in names}
        for r in f_scalar.result():
            scalar[r["table"]][(r["col_name"], r["stat_name"])] = r["stat_value"]
        vrows: dict[str, dict] = {n: {} for n in names}
        if f_value is not None:
            for r in f_value.result():
                vrows[r["table"]][r["col_name"]] = r.asDict()
        trows: dict[str, dict] = {n: {} for n in names}
        if f_token is not None:
            for r in f_token.result():
                trows[r["table"]][r["col_name"]] = r.asDict()

    out_rows = []
    for n in names:
        out_rows.extend(
            _assemble_profile_rows(tables[n], n, scalar[n], vrows[n], trows[n])
        )
    # ONE slice at creation: createDataFrame defaults to
    # defaultParallelism slices, and a #columns-row frame split 32 ways
    # turns every downstream crossJoin into p×q near-empty tasks
    # (measured 12s of task-launch overhead for a 5×4-column match) and
    # every groupBy into 100+ tasks after unions. (A coalesce(1) after
    # the fact is WORSE: its single task replays all 32 Python-worker
    # partition round-trips serially, ~4s per frame.)
    rdd = spark.sparkContext.parallelize(out_rows, 1)
    return spark.createDataFrame(rdd, schema=PROFILE_SCHEMA)


def dataset_profile(profiles: DataFrame) -> DataFrame:
    """Dataset-level profile (P20): mean & population variance of
    per-column stats across each table's columns (reference
    profiler.py:587-630).

    Portability: mean/var go through exact DECIMAL sums (the registry's
    standard recipe) instead of float avg/var_pop — decimal addition is
    order-independent and bit-identical in Spark and DuckDB, so the
    downstream dataset-similarity cosine is oracle-checkable; float
    var_pop's Welford state would differ in the last ulp between
    engines (and between partitionings of the same data).
    """
    num_cols = [
        f.name
        for f in profiles.schema.fields
        if isinstance(f.dataType, T.DoubleType) and f.name not in ("row_num",)
    ]
    aggs = []
    for c in num_cols:
        d = F.expr(f"try_cast(`{c}` as decimal(18,6))")
        # count d, NOT the raw column: a stat outside decimal(18,6)'s
        # range try_casts to NULL and must leave the denominator too,
        # or the mean/var would be silently biased (and the oracle,
        # computing the same thing, would agree with the bias)
        n = F.expr(
            f"nullif(cast(count(try_cast(`{c}` as decimal(18,6))) as double), 0.0)"
        )
        mean = F.sum(d).cast("double") / n
        var = F.sum(d * d).cast("double") / n - mean * mean
        aggs.append(mean.alias(f"{c}_mean"))
        aggs.append(var.alias(f"{c}_var"))
    return profiles.groupBy("table").agg(*aggs)
