"""Deterministic sampling / splitting / shuffling for training-data
pipelines (scale extensions; the reference's only sampling is pandas
``sample(n=200, random_state=42)`` — method_2/pipleline_2.py:114-115).

Everything here is HASH-based, not RNG-based: ``rand(seed)`` changes
with partitioning and Spark version, while ``md5(key)`` gives the same
sample on any cluster, any engine, any day — which is what makes
train/test membership auditable and joins against a sample stable.
All operators are map-only (no shuffle) except the global shuffle,
which is one sort by hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# md5 prefix → 28-bit int, uniform on [0, 2^28); the bucket denominator
_BUCKETS = 1 << 28


def _hash_bucket(id_col: str, salt: str):
    return F.expr(
        f"cast(conv(substr(md5(concat('{salt}', ':', cast({id_col} as string))), 1, 7), 16, 10) as bigint)"
    )


def _hash_bucket_sql(id_col: str, salt: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}' || ':' || CAST({id_col} AS VARCHAR)), 1, 7)) AS BIGINT)"
    )


def hash_sample(df: DataFrame, id_col: str, rate: float, salt: str = "sample") -> DataFrame:
    """Reproducible ``rate``-fraction sample: a row is in the sample iff
    ``md5(salt:id) < rate`` in bucket space. Map-only; membership is a
    pure function of the id, so the same rows are sampled everywhere
    and the sample can be re-derived (or anti-joined) at any time."""
    return df.where(_hash_bucket(id_col, salt) < int(rate * _BUCKETS))


def hash_sample_sql(table: str, id_col: str, rate: float, salt: str = "sample") -> str:
    return f"SELECT * FROM {table} WHERE {_hash_bucket_sql(id_col, salt)} < {int(rate * _BUCKETS)}"


def train_test_split(
    df: DataFrame, id_col: str, test_rate: float = 0.1, salt: str = "split"
) -> DataFrame:
    """Adds a deterministic ``split`` column ('train'/'test'): the
    standard leakage-safe split — membership depends only on the id,
    so re-ingesting, repartitioning, or appending data never moves a
    row across the boundary."""
    return df.withColumn(
        "split",
        F.when(_hash_bucket(id_col, salt) < int(test_rate * _BUCKETS), "test").otherwise(
            "train"
        ),
    )


def stratified_hash_sample(
    df: DataFrame, id_col: str, strata_col: str, rates: dict[str, float], salt: str = "strat"
) -> DataFrame:
    """Per-stratum reproducible sampling (e.g. downsample boilerplate
    languages, keep all rare ones): one map-only pass, the rate picked
    per row from a small literal map; strata absent from ``rates``
    default to 0 (dropped)."""
    rate_col = None
    for k, v in sorted(rates.items()):
        cond = F.col(strata_col) == k
        rate_col = F.when(cond, F.lit(int(v * _BUCKETS))) if rate_col is None else rate_col.when(cond, F.lit(int(v * _BUCKETS)))
    rate_col = rate_col.otherwise(F.lit(0)) if rate_col is not None else F.lit(0)
    return df.where(_hash_bucket(id_col, salt) < rate_col)


def stratified_hash_sample_sql(
    table: str, id_col: str, strata_col: str, rates: dict[str, float], salt: str = "strat"
) -> str:
    cases = " ".join(
        f"WHEN {strata_col} = '{k}' THEN {int(v * _BUCKETS)}" for k, v in sorted(rates.items())
    )
    return (
        f"SELECT * FROM {table} WHERE {_hash_bucket_sql(id_col, salt)}"
        f" < (CASE {cases} ELSE 0 END)"
    )


def deterministic_shuffle(
    df: DataFrame, id_col: str, salt: str = "shuffle", n_parts: int = 64
) -> DataFrame:
    """Global reproducible shuffle: rows ranked by ``md5(salt:id)``
    (ties broken by id) — the standard way to randomize
    training-example order so every rerun, resume, or backfill sees
    the identical sequence.

    The global rank is TWO-LEVEL so no task sorts the whole table:
    the md5 bucket value is uniform on [0, 2^28), so its high bits
    give ``n_parts`` perfectly balanced, deterministic range buckets;
    each bucket ranks locally in parallel, and bucket offsets come
    from an ``n_parts``-row count aggregate (its cumulative window
    touches only those few rows) broadcast back. Output positions are
    identical to a single global sort.
    """
    width = _BUCKETS // n_parts
    h = _hash_bucket(id_col, salt)
    d = df.withColumn("_h", h).withColumn("_pid", F.floor(F.col("_h") / width).cast("int"))
    # n_parts-row frame; the unpartitioned window below scans only these rows.
    wp = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    off = (
        d.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(wp), F.lit(0)))
        .select("_pid", "_off")
    )
    wl = Window.partitionBy("_pid").orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return (
        d.join(F.broadcast(off), "_pid")
        .withColumn("shuffle_pos", (F.row_number().over(wl) + F.col("_off")).cast("int"))
        .drop("_h", "_pid", "_off")
    )


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int, salt: str = "wsample"
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-Res): row i gets key ``u_i^(1/w_i)`` with ``u_i`` a
    uniform derived from ``md5(salt:id)``; the k largest keys are the
    sample, and inclusion probabilities are proportional to weight —
    the standard way to sample training docs by token count or quality
    score. Hash-derived (not RNG) uniforms make the sample identical on
    any cluster/engine and auditable after the fact.

    Ordering uses the monotone-equivalent ``ln(u)/w`` (avoids pow
    underflow for large weights) rounded to 12 dp — cross-engine ln()
    agrees to ~1 ulp, so the rounded key is engine-stable — with ties
    broken by id. Scale shape: map-only key computation + global top-k
    = TakeOrderedAndProject (per-partition partial top-k, no full
    sort). Rows with NULL or non-positive weight are excluded (their
    inclusion probability is 0).
    """
    u = (_hash_bucket(id_col, salt) + F.lit(0.5)) / F.lit(float(_BUCKETS))
    key = F.round(F.log(u) / F.col(weight_col), 12)
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def weighted_sample_sql(
    table: str, id_col: str, weight_col: str, k: int, salt: str = "wsample"
) -> str:
    u = f"(({_hash_bucket_sql(id_col, salt)}) + 0.5) / {float(_BUCKETS)}"
    return f"""
SELECT *, round(ln({u}) / {weight_col}, 12) AS sample_key
FROM {table}
WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
ORDER BY sample_key DESC, {id_col} ASC
LIMIT {k}
"""


def group_mix(df: DataFrame, group_col: str, weight_col: str | None = None) -> DataFrame:
    """Data-mixture report: per-group row count, optional weight sum
    (e.g. token counts), and exact share of the total — the standard
    first look at a training corpus's source composition. One small
    aggregation; shares are integer ratios rounded to 6 dp so they
    hash-match across engines."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if weight_col is not None:
        # round-then-cast: Spark's double→bigint cast truncates while
        # DuckDB's rounds, so a fractional weight sum would diverge
        aggs.append(
            F.round(F.sum(weight_col), 0).cast("bigint").alias("weight_sum")
        )
    g = df.groupBy(F.col(group_col).alias("grp")).agg(*aggs)
    # total via an unpartitioned window over the group-sized frame —
    # an aggregate branch would re-scan the corpus for the total
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = g.withColumn("share", F.round(F.col("n_rows") / F.sum("n_rows").over(wall), 6))
    cols = ["grp", "n_rows"] + (["weight_sum"] if weight_col is not None else []) + ["share"]
    return out.select(*cols)


def group_mix_sql(table: str, group_col: str, weight_col: str | None = None) -> str:
    w = f", CAST(round(sum({weight_col}), 0) AS BIGINT) AS weight_sum" if weight_col else ""
    return f"""
SELECT {group_col} AS grp, count(*) AS n_rows{w},
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS share
FROM {table}
GROUP BY {group_col}
"""


def rebalance_groups(
    df: DataFrame, id_col: str, group_col: str, cap_share: float, salt: str = "rebalance"
) -> DataFrame:
    """Mixture rebalancing: cap every group (source/language/domain) at
    ``cap_share`` of the ORIGINAL total by deterministically
    hash-downsampling over-represented groups; groups under the cap
    pass through untouched.

    A row in an over-cap group survives iff
    ``hash * grp_n < cap_n * 2^28`` — pure int64 arithmetic (hash <
    2^28, counts < 2^35 stay in range), so membership is an exact,
    engine-portable function of the id, and re-running on appended
    data keeps previously-surviving rows stable within a group size.
    Cost: one count aggregate per group (broadcast back) + a map-only
    filter — no data-sized shuffle at any scale.
    """
    # the corpus total rides an unpartitioned window over the
    # group-count-sized counts frame (a few hundred rows at most) —
    # an aggregate branch would re-scan the group column of the corpus
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_grp_n"))
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # floor ≥ 1: a tiny corpus (total < 1/cap_share) must not collapse
    # to cap 0 and silently drop every row
    cap = counts.select(
        F.col(group_col).alias("_grp_key"),  # fresh name: cap shares df's lineage
        "_grp_n",
        F.greatest(
            F.lit(1),
            F.floor(F.lit(cap_share) * F.sum("_grp_n").over(wall)).cast("bigint"),
        ).alias("_cap_n"),
    )
    keep = (F.col("_grp_n") <= F.col("_cap_n")) | (
        _hash_bucket(id_col, salt) * F.col("_grp_n") < F.col("_cap_n") * F.lit(_BUCKETS)
    )
    # null-safe equality: a NULL group is a group like any other — a
    # plain equi-join would silently drop every NULL-group row
    return (
        df.join(F.broadcast(cap), F.col(group_col).eqNullSafe(F.col("_grp_key")))
        .where(keep)
        .select(*df.columns)
    )


def target_mixture(
    df: DataFrame,
    id_col: str,
    group_col: str,
    targets: dict[str, float],
    salt: str = "mixture",
) -> DataFrame:
    """Mixture TARGETING (the DoReMi/data-mixing shape): downsample each
    targeted group toward the given proportions, water-filled to the
    largest total the corpus can support — the binding group (whose
    rows run out first relative to its share) keeps everything and
    every other group hash-downsamples to match. Each row's membership
    is an independent hash threshold, so realized shares equal the
    targets IN EXPECTATION with ±O(1/√group size) binomial noise —
    negligible at corpus scale, and the price of staying MAP-ONLY (an
    exactly-k variant needs a per-group sort, one shuffle the size of
    the corpus). Groups absent from ``targets`` are dropped; a targeted
    group with NO rows makes the achievable total 0 (empty result) —
    the honest water-filling answer, not an error.

    Membership is the same exact int64 hash arithmetic as
    :func:`rebalance_groups` (engine-portable, append-stable). Cost:
    one count aggregate over targeted rows, a #groups-row window, one
    broadcast join + map filter — no data-sized shuffle.
    """
    if not targets or any(w <= 0 for w in targets.values()):
        raise ValueError("targets must be a non-empty dict of positive weights")
    total_w = sum(targets.values())
    shares = {g: w / total_w for g, w in targets.items()}
    share_expr = F.lit(None).cast("double")
    for g, s in shares.items():
        share_expr = F.when(F.col("_grp_key") == g, F.lit(s)).otherwise(share_expr)

    targeted = df.where(F.col(group_col).isin(list(targets)))
    counts = (
        targeted.groupBy(F.col(group_col).alias("_grp_key"))
        .agg(F.count(F.lit(1)).alias("_grp_n"))
        .withColumn("_share", share_expr)
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # water-fill: N = min over groups of grp_n / share; a targeted group
    # with zero rows never appears in counts, so emulate it by taking
    # min over PRESENT groups and capping with presence count — if any
    # targeted group is missing, N must be 0
    present = F.count(F.lit(1)).over(wall)
    n_total = F.when(
        present < F.lit(len(shares)), F.lit(0.0)
    ).otherwise(F.min(F.col("_grp_n").cast("double") / F.col("_share")).over(wall))
    caps = counts.select(
        "_grp_key",
        "_grp_n",
        F.floor(F.col("_share") * n_total).cast("bigint").alias("_target_n"),
    )
    keep = _hash_bucket(id_col, salt) * F.col("_grp_n") < F.col("_target_n") * F.lit(_BUCKETS)
    return (
        targeted.join(F.broadcast(caps), F.col(group_col) == F.col("_grp_key"))
        .where(keep)
        .select(*df.columns)
    )


def target_mixture_sql(
    table: str,
    id_col: str,
    group_col: str,
    targets: dict[str, float],
    salt: str = "mixture",
) -> str:
    """DuckDB oracle for :func:`target_mixture`."""
    total_w = sum(targets.values())
    shares = {g: w / total_w for g, w in targets.items()}
    in_list = ", ".join(f"'{g}'" for g in shares)
    share_case = " ".join(
        f"WHEN '{g}' THEN CAST({s!r} AS DOUBLE)" for g, s in shares.items()
    )
    return f"""
WITH counts AS (
  SELECT {group_col} AS grp, count(*) AS grp_n,
         CASE {group_col} {share_case} END AS share
  FROM {table} WHERE {group_col} IN ({in_list}) GROUP BY {group_col}
),
caps AS (
  SELECT grp, grp_n,
         CAST(floor(share * (CASE WHEN count(*) OVER () < {len(shares)}
              THEN 0.0
              ELSE min(CAST(grp_n AS DOUBLE) / share) OVER () END)) AS BIGINT) AS target_n
  FROM counts
)
SELECT t.* FROM {table} t JOIN caps c ON t.{group_col} = c.grp
WHERE {_hash_bucket_sql(f"t.{id_col}", salt)} * c.grp_n < c.target_n * {_BUCKETS}
"""


def rebalance_groups_sql(
    table: str, id_col: str, group_col: str, cap_share: float, salt: str = "rebalance"
) -> str:
    return f"""
WITH counts AS (
  SELECT {group_col} AS grp, count(*) AS grp_n,
         -- CAST: DuckDB parses the literal as DECIMAL, whose exact
         -- product can floor one short of Spark's double arithmetic;
         -- greatest(1,..): tiny corpora must not collapse to cap 0
         greatest(1, CAST(floor(CAST({cap_share} AS DOUBLE) * sum(count(*)) OVER ()) AS BIGINT)) AS cap_n
  FROM {table} GROUP BY {group_col}
)
SELECT t.* FROM {table} t JOIN counts c ON t.{group_col} IS NOT DISTINCT FROM c.grp
WHERE c.grp_n <= c.cap_n
   OR {_hash_bucket_sql(f"t.{id_col}", salt)} * c.grp_n < c.cap_n * {_BUCKETS}
"""


def temperature_mixture(
    df: DataFrame,
    id_col: str,
    group_col: str,
    alpha: float = 0.5,
    salt: str = "temperature",
) -> DataFrame:
    """Temperature-based mixture flattening (the multilingual-sampling
    shape: sample group g with probability ∝ (n_g)^alpha, alpha = 1/T —
    alpha < 1 flattens head groups toward the tail; alpha = 1 is the
    natural distribution, i.e. keep everything). Because this engine
    only ever SUBSAMPLES (never replicates), the targets are
    water-filled so the smallest group keeps all its rows and every
    larger group downsamples to match the flattened proportions:

        target_n(g) = floor( n_g^alpha · n_min^(1-alpha) )

    — algebraically the same water-fill as :func:`target_mixture` with
    shares ∝ n_g^alpha (the shared normalizer cancels inside
    ``share·N``), but deliberately REFORMULATED without the share sum:
    a Σ over float weights is accumulation-order-dependent and Spark
    and DuckDB would disagree in the last ulp, while min(n_g) is an
    exact BIGINT and the remaining product is two correctly-rounded
    primitives. alpha = 0.5 uses sqrt on both engines (IEEE-exact);
    other alphas go through pow (documented ≤1-ulp cross-engine risk
    on the target boundary).

    Cost: one group-count aggregate, a #groups-row window min, one
    broadcast join + map-side hash-threshold filter — the corpus
    itself is never shuffled. Membership hash arithmetic is identical
    to :func:`rebalance_groups` (append-stable, engine-portable).
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1] — subsample-only flattening")

    def _pow(col, exp: float):
        d = col.cast("double")
        if exp == 1.0:
            return d
        if exp == 0.5:
            return F.sqrt(d)
        return F.pow(d, F.lit(exp))

    counts = df.groupBy(F.col(group_col).alias("_grp_key")).agg(
        F.count(F.lit(1)).alias("_grp_n")
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_min = F.min("_grp_n").over(wall)
    # the min group IS the water level: pin its target to n_g exactly
    # rather than trusting floor(n^α·n^(1−α)) — sqrt(n)·sqrt(n) can
    # round a hair BELOW n and floor away one row, breaking the
    # "smallest group keeps everything" contract (hypothesis found it)
    caps = counts.select(
        "_grp_key",
        "_grp_n",
        F.when(F.col("_grp_n") == n_min, F.col("_grp_n"))
        .otherwise(
            F.floor(_pow(F.col("_grp_n"), alpha) * _pow(n_min, 1.0 - alpha)).cast(
                "bigint"
            )
        )
        .alias("_target_n"),
    )
    keep = _hash_bucket(id_col, salt) * F.col("_grp_n") < F.col("_target_n") * F.lit(_BUCKETS)
    return (
        df.join(
            F.broadcast(caps),
            F.col(group_col).eqNullSafe(F.col("_grp_key")),
        )
        .where(keep)
        .select(*df.columns)
    )


def temperature_mixture_sql(
    table: str,
    id_col: str,
    group_col: str,
    alpha: float = 0.5,
    salt: str = "temperature",
) -> str:
    """DuckDB oracle for :func:`temperature_mixture`."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1] — subsample-only flattening")

    def _pow(expr: str, exp: float) -> str:
        if exp == 1.0:
            return f"CAST({expr} AS DOUBLE)"
        if exp == 0.5:
            return f"sqrt(CAST({expr} AS DOUBLE))"
        return f"pow(CAST({expr} AS DOUBLE), {exp!r})"

    return f"""
WITH counts AS (
  SELECT {group_col} AS grp, count(*) AS grp_n
  FROM {table} GROUP BY {group_col}
),
caps AS (
  SELECT grp, grp_n,
         CASE WHEN grp_n = min(grp_n) OVER () THEN grp_n
              ELSE CAST(floor({_pow('grp_n', alpha)} * {_pow('min(grp_n) OVER ()', 1.0 - alpha)}) AS BIGINT)
         END AS target_n
  FROM counts
)
SELECT t.* FROM {table} t JOIN caps c ON t.{group_col} IS NOT DISTINCT FROM c.grp
WHERE {_hash_bucket_sql(f"t.{id_col}", salt)} * c.grp_n < c.target_n * {_BUCKETS}
"""


def target_mixture_exact(
    df: DataFrame,
    id_col: str,
    group_col: str,
    targets: dict[str, float],
    salt: str = "mixture",
    n_parts: int = 64,
) -> DataFrame:
    """Exactly-k mixture targeting: the same water-filled per-group
    targets as :func:`target_mixture`, but each group keeps EXACTLY
    ``target_n`` rows — the hash-threshold variant realizes targets
    only in expectation (±O(1/√n) binomial noise), which is the right
    trade for incremental corpora but not for a fixed training-budget
    manifest ("exactly 50/30/20 of exactly N docs").

    Selection: the ``target_n`` LOWEST ``md5(salt:id)`` hashes per
    group (ties by id) — deterministic and engine-portable, but
    append-UNSTABLE (a new row can displace an old one's rank), so
    incremental pipelines should keep using the threshold variant.

    The per-group rank is TWO-LEVEL, like :func:`deterministic_shuffle`:
    the hash's high bits give ``n_parts`` balanced range buckets, each
    (group, bucket) ranks locally in parallel, and bucket offsets come
    from a (#groups × n_parts)-row count aggregate whose cumulative
    window is PARTITIONED BY GROUP — no task ever sorts a whole group
    (a naive per-group window serializes the head group into one task
    at corpus scale). Positions are identical to a single per-group
    sort, so the exact oracle uses the plain window.
    """
    if not targets or any(w <= 0 for w in targets.values()):
        raise ValueError("targets must be a non-empty dict of positive weights")
    total_w = sum(targets.values())
    shares = {g: w / total_w for g, w in targets.items()}
    share_expr = F.lit(None).cast("double")
    for g, s in shares.items():
        share_expr = F.when(F.col("_grp_key") == g, F.lit(s)).otherwise(share_expr)

    targeted = df.where(F.col(group_col).isin(list(targets)))
    counts = (
        targeted.groupBy(F.col(group_col).alias("_grp_key"))
        .agg(F.count(F.lit(1)).alias("_grp_n"))
        .withColumn("_share", share_expr)
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    present = F.count(F.lit(1)).over(wall)
    n_total = F.when(
        present < F.lit(len(shares)), F.lit(0.0)
    ).otherwise(F.min(F.col("_grp_n").cast("double") / F.col("_share")).over(wall))
    caps = counts.select(
        "_grp_key",
        F.floor(F.col("_share") * n_total).cast("bigint").alias("_target_n"),
    )

    width = _BUCKETS // n_parts
    d = targeted.withColumn("_h", _hash_bucket(id_col, salt)).withColumn(
        "_pid", F.floor(F.col("_h") / width).cast("int")
    )
    # (#groups x n_parts)-row frame; cumulative window partitioned by group
    wg = Window.partitionBy("_gk").orderBy("_opid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        d.groupBy(F.col(group_col).alias("_gk"), F.col("_pid").alias("_opid"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(wg), F.lit(0)))
        .select("_gk", F.col("_opid"), "_off")
    )
    wl = Window.partitionBy(group_col, "_pid").orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    return (
        d.join(
            F.broadcast(off),
            (F.col(group_col) == F.col("_gk")) & (F.col("_pid") == F.col("_opid")),
        )
        .join(F.broadcast(caps), F.col(group_col) == F.col("_grp_key"))
        .withColumn("_rank", F.row_number().over(wl) + F.col("_off"))
        .where(F.col("_rank") <= F.col("_target_n"))
        .select(*df.columns)
    )


def target_mixture_exact_sql(
    table: str,
    id_col: str,
    group_col: str,
    targets: dict[str, float],
    salt: str = "mixture",
) -> str:
    """DuckDB oracle for :func:`target_mixture_exact` (single-level
    per-group window — oracles don't need the skew-safe shape)."""
    total_w = sum(targets.values())
    shares = {g: w / total_w for g, w in targets.items()}
    in_list = ", ".join(f"'{g}'" for g in shares)
    share_case = " ".join(
        f"WHEN '{g}' THEN CAST({s!r} AS DOUBLE)" for g, s in shares.items()
    )
    return f"""
WITH counts AS (
  SELECT {group_col} AS grp, count(*) AS grp_n,
         CASE {group_col} {share_case} END AS share
  FROM {table} WHERE {group_col} IN ({in_list}) GROUP BY {group_col}
),
caps AS (
  SELECT grp,
         CAST(floor(share * (CASE WHEN count(*) OVER () < {len(shares)}
              THEN 0.0
              ELSE min(CAST(grp_n AS DOUBLE) / share) OVER () END)) AS BIGINT) AS target_n
  FROM counts
),
ranked AS (
  SELECT t.*, c.target_n,
         row_number() OVER (
           PARTITION BY t.{group_col}
           ORDER BY {_hash_bucket_sql(f"t.{id_col}", salt)}, t.{id_col}
         ) AS rn
  FROM {table} t JOIN caps c ON t.{group_col} = c.grp
)
SELECT * EXCLUDE (target_n, rn) FROM ranked WHERE rn <= target_n
"""


def group_split(
    df: DataFrame, group_col: str, test_rate: float = 0.1, salt: str = "gsplit"
) -> DataFrame:
    """Adds a deterministic ``split`` column assigning WHOLE GROUPS to
    'test'/'train' — the split-by-domain pattern: a row-grain split
    (:func:`train_test_split`) leaks when documents within a group are
    correlated (near-duplicates of a page, shards of a site, chunks of
    a book), because siblings land on both sides. Hashing the GROUP
    key keeps every group intact on one side; membership depends only
    on the group value, so appends never move a group. Map-only (the
    hash is computed per row from the group column — no group-grain
    aggregation or join). The realized test share is group-weighted
    (±skew if group sizes vary wildly — that is the price of zero
    leakage, and the reason both splits exist)."""
    return df.withColumn(
        "split",
        F.when(
            _hash_bucket(group_col, salt) < int(test_rate * _BUCKETS), "test"
        ).otherwise("train"),
    )


def token_budget_select(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    quality_col: str,
    budget: int,
    n_bands: int = 64,
    text_col: str | None = None,
    tokenizer_fn=None,
) -> DataFrame:
    """Fill a token budget with the BEST documents: rank by
    (quality desc, id asc), keep the greedy prefix whose cumulative
    ``weight_col`` stays under ``budget`` (the first overflowing doc is
    excluded; "give me the best 10B tokens" — the budgeted form of
    quality filtering, which thresholds by score instead and lands on
    an uncontrolled token count).

    The global quality order is TWO-LEVEL so no task sorts the corpus
    (quality lives in [0, 1], so ``floor(quality·n_bands)`` gives
    deterministic range bands — the value-domain analogue of
    :func:`deterministic_shuffle`'s hash-range buckets): each band
    computes its within-band cumulative weight in parallel (window
    partitioned by band), band totals form an ``n_bands``-row frame
    whose cumulative window runs highest-band-first, and a row keeps
    iff rows strictly better than it sum below the budget. Cumulative
    sums are BIGINT — exact, order-free, engine-portable.

    ``tokenizer_fn`` + ``text_col`` (``ops.tokenize``): budget in REAL
    tokenizer counts of ``text_col`` instead of ``weight_col`` — the
    production "best N actual-BPE tokens" form. The tokenizer rides
    the banding map stage (one Arrow hop, no extra scan).

    NULL admission contract (both paths): a NULL weight — a NULL
    ``weight_col`` value, or a NULL-text document under
    ``tokenizer_fn`` (``ops.tokenize`` yields a NULL count for NULL
    text) — makes the keep predicate NULL, so the row is DROPPED. A
    document whose token cost is unknown never spends the budget and
    never rides in for free.
    """
    drop_tok_w = False
    if tokenizer_fn is not None:
        if text_col is None:
            raise ValueError("tokenizer_fn requires text_col")
        from datalakerulegeneration_spark.ops.tokenize import token_count_col

        df = df.withColumn("_tok_w", token_count_col(text_col, tokenizer_fn))
        weight_col = "_tok_w"
        drop_tok_w = True
    q = F.col(quality_col)
    band = F.least(
        F.lit(n_bands - 1), F.floor(q * n_bands).cast("int")
    )
    d = df.withColumn("_band", band)
    w_band = Window.partitionBy("_band").orderBy(
        q.desc(), F.col(id_col).asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    d = d.withColumn("_within", F.coalesce(F.sum(weight_col).over(w_band), F.lit(0)))
    # n_bands-row frame; cumulative over HIGHER bands only
    wp = Window.orderBy(F.col("_oband").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        d.groupBy(F.col("_band").alias("_oband"))
        .agg(F.sum(weight_col).alias("_bw"))
        .withColumn("_off", F.coalesce(F.sum("_bw").over(wp), F.lit(0)))
        .select("_oband", "_off")
    )
    out_cols = [c for c in df.columns if not (drop_tok_w and c == "_tok_w")]
    return (
        d.join(F.broadcast(off), F.col("_band") == F.col("_oband"))
        .where(F.col("_off") + F.col("_within") + F.col(weight_col) <= F.lit(budget))
        .select(*out_cols)
    )


def token_budget_select_by_group(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    quality_col: str,
    group_col: str,
    budgets: dict[str, int],
    n_bands: int = 64,
) -> DataFrame:
    """Per-GROUP token budgets: within each group, keep the greedy
    best-quality prefix whose cumulative ``weight_col`` fits that
    group's budget — the production mixture contract ("2B tokens of
    code, 500M of forums"), where :func:`token_budget_select` is the
    corpus-total form and :func:`target_mixture` counts documents
    instead of tokens. Groups absent from ``budgets`` are DROPPED
    (explicit mixture, same contract as target_mixture).

    Same two-level banded construction as the global form, one level
    down: within-(group, band) cumulative windows run in parallel,
    band offsets ride a (#groups × n_bands)-row frame whose cumulative
    window is PARTITIONED BY GROUP (no unpartitioned window anywhere —
    strictly better than the global form's n_bands-row frame), and the
    per-group budget joins from a broadcast literal map. Exact BIGINT
    sums; deterministic (quality desc, id asc) order both engines.
    """
    if not budgets:
        raise ValueError("budgets must name at least one group")
    q = F.col(quality_col)
    band = F.least(F.lit(n_bands - 1), F.floor(q * n_bands).cast("int"))
    d = df.withColumn("_band", band)
    w_band = (
        Window.partitionBy(group_col, "_band")
        .orderBy(q.desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("_within", F.coalesce(F.sum(weight_col).over(w_band), F.lit(0)))
    wp = (
        Window.partitionBy("_ogrp")
        .orderBy(F.col("_oband").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        d.groupBy(F.col(group_col).alias("_ogrp"), F.col("_band").alias("_oband"))
        .agg(F.sum(weight_col).alias("_bw"))
        .withColumn("_off", F.coalesce(F.sum("_bw").over(wp), F.lit(0)))
        .select("_ogrp", "_oband", "_off")
    )
    bspark = df.sparkSession.createDataFrame(
        sorted(budgets.items()), f"_bgrp string, _budget bigint"
    )
    return (
        d.join(
            F.broadcast(off),
            (F.col(group_col) == F.col("_ogrp")) & (F.col("_band") == F.col("_oband")),
        )
        .join(F.broadcast(bspark), F.col(group_col) == F.col("_bgrp"))
        .where(
            F.col("_off") + F.col("_within") + F.col(weight_col) <= F.col("_budget")
        )
        .select(*df.columns)
    )


def token_budget_select_by_group_sql(
    table: str,
    id_col: str,
    weight_col: str,
    quality_col: str,
    group_col: str,
    budgets: dict[str, int],
) -> str:
    """DuckDB oracle for :func:`token_budget_select_by_group` (one
    group-partitioned window + a VALUES budget map)."""
    values = ", ".join(f"('{g}', {b})" for g, b in sorted(budgets.items()))
    return f"""
WITH b(_bgrp, _budget) AS (VALUES {values})
SELECT * EXCLUDE (_cum, _bgrp, _budget) FROM (
  SELECT t.*, b._budget,  b._bgrp,
         COALESCE(sum({weight_col}) OVER (
           PARTITION BY {group_col}
           ORDER BY {quality_col} DESC, {id_col} ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _cum
  FROM {table} t JOIN b ON t.{group_col} = b._bgrp
)
WHERE _cum + {weight_col} <= _budget
"""


def token_budget_select_sql(
    table: str, id_col: str, weight_col: str, quality_col: str, budget: int
) -> str:
    """DuckDB oracle for :func:`token_budget_select` (single global
    window — oracles don't need the two-level shape)."""
    return f"""
SELECT * EXCLUDE (_cum) FROM (
  SELECT t.*,
         COALESCE(sum({weight_col}) OVER (
           ORDER BY {quality_col} DESC, {id_col} ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _cum
  FROM {table} t
)
WHERE _cum + {weight_col} <= {budget}
"""


def epoch_mixture_plan(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    group_col: str,
    targets: dict[str, int],
) -> DataFrame:
    """Data-constrained mixing plan (the repeat-don't-drop recipe):
    when a group's token TARGET exceeds its available tokens, the
    group repeats — ``n_full_epochs = target // available`` whole
    passes plus a ``remainder_tokens`` partial pass. One aggregation:
    ``(group, available_tokens, target_tokens, n_full_epochs,
    remainder_tokens, remainder_share)``; groups not in ``targets``
    are absent (explicit mixture, the target_mixture contract). The
    epoch split is true BIGINT integer division (Spark ``div`` /
    DuckDB ``//``) — exact at any token count, not just below 2^53.
    A group with zero available tokens reports zero epochs and NULL
    share."""
    if not targets or any(t < 0 for t in targets.values()):
        raise ValueError("targets must be a non-empty dict of non-negative token counts")
    tgt = F.lit(None).cast("bigint")
    for g, t in targets.items():
        tgt = F.when(F.col(group_col) == g, F.lit(int(t))).otherwise(tgt)
    agg = (
        df.where(F.col(group_col).isin(list(targets)))
        .groupBy(F.col(group_col).alias("group"))
        .agg(
            F.coalesce(F.sum(F.coalesce(F.col(weight_col), F.lit(0))), F.lit(0))
            .cast("bigint")
            .alias("available_tokens"),
        )
    )
    tgt2 = F.lit(None).cast("bigint")
    for g, t in targets.items():
        tgt2 = F.when(F.col("group") == g, F.lit(int(t))).otherwise(tgt2)
    avail = F.col("available_tokens")
    # BIGINT `div`, not floor(double/double): double division loses
    # exactness above ~2^53 tokens (ADVICE r7)
    full = F.when(avail > 0, F.expr("_tgt div available_tokens")).otherwise(F.lit(0)).cast("bigint")
    rem = (tgt2 - full * avail).cast("bigint")
    agg = agg.withColumn("_tgt", tgt2)
    return agg.select(
        "group",
        "available_tokens",
        tgt2.alias("target_tokens"),
        full.alias("n_full_epochs"),
        F.when(avail > 0, rem).otherwise(F.lit(0)).cast("bigint").alias("remainder_tokens"),
        F.round(
            F.when(avail > 0, rem).otherwise(F.lit(0)).cast("double")
            / F.nullif(avail.cast("double"), F.lit(0.0)),
            6,
        ).alias("remainder_share"),
    )


def epoch_mixture_plan_sql(
    table: str, id_col: str, weight_col: str, group_col: str, targets: dict[str, int]
) -> str:
    """DuckDB oracle for :func:`epoch_mixture_plan`."""
    in_list = ", ".join(f"'{g}'" for g in targets)
    tgt_case = " ".join(f"WHEN '{g}' THEN CAST({int(t)} AS BIGINT)" for g, t in targets.items())
    return f"""
WITH a AS (
  SELECT {group_col} AS "group",
         CAST(COALESCE(sum(COALESCE({weight_col}, 0)), 0) AS BIGINT) AS available_tokens,
         CASE {group_col} {tgt_case} END AS target_tokens
  FROM {table}
  WHERE {group_col} IN ({in_list})
  GROUP BY 1
)
SELECT "group", available_tokens, target_tokens,
       CAST(CASE WHEN available_tokens > 0
            THEN target_tokens // available_tokens ELSE 0 END AS BIGINT) AS n_full_epochs,
       CAST(CASE WHEN available_tokens > 0
            THEN target_tokens - (target_tokens // available_tokens) * available_tokens
            ELSE 0 END AS BIGINT) AS remainder_tokens,
       round(CAST(CASE WHEN available_tokens > 0
            THEN target_tokens - (target_tokens // available_tokens) * available_tokens
            ELSE 0 END AS DOUBLE) / nullif(CAST(available_tokens AS DOUBLE), 0.0), 6) AS remainder_share
FROM a
"""


def epoch_mixture_expand(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    group_col: str,
    targets: dict[str, int],
    salt: str = "epoch",
) -> DataFrame:
    """Materialize the :func:`epoch_mixture_plan`: ``(id, group,
    weight, epoch)`` rows where every group appears ``n_full_epochs``
    whole times (epoch 0..n−1) plus a deterministic remainder pass
    (epoch = n_full_epochs) filling AT MOST ``remainder_tokens`` with
    the greedy hash-order prefix (the greedy prefix undershoots when
    document weights don't tile the remainder) — the token-budget
    machinery with ``md5`` order standing in for "random", so the
    partial epoch is an unbiased-by-construction, engine-reproducible
    sample.

    Shape: the plan is a #groups-row broadcast; full epochs are one
    map-side ``sequence`` explode (output grows with the repeat
    factor, never shuffles); the remainder reuses
    :func:`token_budget_select_by_group` (hash as the ranking key).
    """
    plan = epoch_mixture_plan(df, id_col, weight_col, group_col, targets)
    base = df.where(F.col(group_col).isin(list(targets))).select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("group"),
        F.coalesce(F.col(weight_col), F.lit(0)).cast("bigint").alias("weight"),
    )
    j = base.join(F.broadcast(plan.select("group", "n_full_epochs", "remainder_tokens")), "group")
    full = j.where(F.col("n_full_epochs") > 0).select(
        "id",
        "group",
        "weight",
        F.explode(F.expr("sequence(0, cast(n_full_epochs as int) - 1)")).alias("_e"),
    ).select("id", "group", "weight", F.col("_e").cast("bigint").alias("epoch"))
    # remainder: greedy hash-order prefix under the per-group leftover
    # budget — reuse the banded by-group budget selection with the md5
    # bucket as the "quality" (normalized to [0,1] for the banding)
    rem_budgets = {
        r["group"]: int(r["remainder_tokens"])
        for r in plan.select("group", "remainder_tokens").collect()
        if r["remainder_tokens"] and r["remainder_tokens"] > 0
    }
    parts = [full]
    if rem_budgets:
        scored = base.withColumn(
            "_hq",
            F.round(_hash_bucket("id", salt).cast("double") / F.lit(float(_BUCKETS)), 6),
        )
        rem = token_budget_select_by_group(
            scored, "id", "weight", "_hq", "group", rem_budgets
        )
        parts.append(
            rem.join(
                F.broadcast(plan.select("group", "n_full_epochs")), "group"
            ).select("id", "group", "weight", F.col("n_full_epochs").cast("bigint").alias("epoch"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def epoch_mixture_expand_sql(
    table: str, id_col: str, weight_col: str, group_col: str, targets: dict[str, int], salt: str = "epoch"
) -> str:
    """DuckDB oracle for :func:`epoch_mixture_expand`."""
    plan = epoch_mixture_plan_sql(table, id_col, weight_col, group_col, targets).strip()
    in_list = ", ".join(f"'{g}'" for g in targets)
    hq = _hash_bucket_sql("id", salt)
    return f"""
WITH plan AS ({plan}),
base AS (
  SELECT {id_col} AS id, {group_col} AS "group",
         CAST(COALESCE({weight_col}, 0) AS BIGINT) AS weight
  FROM {table} WHERE {group_col} IN ({in_list})
),
full_e AS (
  SELECT b.id, b."group", b.weight, CAST(e.e AS BIGINT) AS epoch
  FROM base b JOIN plan p ON b."group" = p."group",
       LATERAL (SELECT unnest(generate_series(0, CAST(p.n_full_epochs AS INTEGER) - 1)) AS e) e
  WHERE p.n_full_epochs > 0
),
scored AS (
  SELECT b.*, round(CAST({hq} AS DOUBLE) / {float(_BUCKETS)!r}, 6) AS hq,
         p.remainder_tokens, p.n_full_epochs
  FROM base b JOIN plan p ON b."group" = p."group"
  WHERE p.remainder_tokens > 0
),
rem AS (
  SELECT id, "group", weight, CAST(n_full_epochs AS BIGINT) AS epoch FROM (
    SELECT s.*,
           COALESCE(sum(weight) OVER (PARTITION BY "group"
             ORDER BY hq DESC, id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _cum
    FROM scored s
  )
  WHERE _cum + weight <= remainder_tokens
)
SELECT * FROM full_e UNION ALL SELECT * FROM rem
"""
