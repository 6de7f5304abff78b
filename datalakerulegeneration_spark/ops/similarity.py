"""Similarity search over an embedding column (``array<float>``).

* **brute-force cosine top-k** — the exact baseline: block-nested-loop
  expressed as a crossJoin + ranked window. Correct at any k; O(n·m)
  — use only when one side is small or as the verification oracle.
* **LSH-bucketed top-k** — the scale path: random-hyperplane signatures
  bucket the vectors; candidates = same-bucket pairs; exact cosine
  re-rank inside buckets. Hyperplanes are generated deterministically
  from md5 so the plan is reproducible run-to-run (no Math.random).

Floats: cosine is computed in double; for oracle-checked outputs the
similarity is rounded to 6 decimals (sum order across 64 dims differs
at ~1e-15 between engines) and ties rank by neighbor id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> str:
    # left-fold in array order — same evaluation order DuckDB's
    # list_dot_product uses; rounded downstream anyway.
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def cosine_expr(a: str, b: str) -> str:
    """Spark SQL cosine similarity between two float-array columns.

    Folds THREE dot products per evaluation — use only where each side
    is seen once. Hot paths that score many pairs per vector must
    precompute :func:`norm_expr` once per row and use
    :func:`cosine_norms_expr` (one fold per pair, bit-identical result:
    sqrt(a·a)·sqrt(b·b) is the same IEEE product either way)."""
    return (
        f"{_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)}))"
    )


def norm_expr(a: str) -> str:
    """sqrt(a·a) as a map-side once-per-row column (see cosine_expr)."""
    return f"sqrt({_dot(a, a)})"


def cosine_norms_expr(a: str, b: str, na: str, nb: str) -> str:
    """Cosine from a single dot product + precomputed norms — the
    per-pair hot path. Identical doubles to :func:`cosine_expr`."""
    return f"{_dot(a, b)} / ({na} * {nb})"


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``(query_id, neighbor_id, cos_sim, rank)``; similarity rounded to
    6 dp, rank ties broken by neighbor id. Queries are broadcast —
    at scale this is "small probe set vs huge corpus", the right
    brute-force shape.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
        F.expr(norm_expr(query_vec_col)).alias("qn"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.expr(norm_expr(vec_col)).alias("nn"),
    )
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(F.expr(cosine_norms_expr("qv", "nv", "qn", "nn")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def brute_force_topk_sql(
    vectors_table: str,
    queries_sql: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`brute_force_topk`. ``queries_sql`` is a
    subquery yielding (query_id, qv)."""
    return f"""
WITH q AS ({queries_sql}),
scored AS (
  SELECT q.query_id, v.{id_col} AS neighbor_id,
         round(
           list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(v.{vec_col} AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(v.{vec_col} AS DOUBLE[]), CAST(v.{vec_col} AS DOUBLE[])))),
           6) AS cos_sim
  FROM {vectors_table} v, q
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def random_hyperplanes(dim: int, n_planes: int, seed: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 (no RNG state).

    Component (p, d) = ±1 by md5 parity — cheap, reproducible, and
    adequate for sign-LSH bucketing. ``seed`` namespaces hash tables.
    """
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _bucket_signatures(
    df: DataFrame,
    id_alias: str,
    vec_alias: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """(id, vec, table, bucket) — one signature row per hash table.

    Multi-table sign-LSH: each table has its own deterministic plane
    set (seeded by table index); a pair is a candidate if it collides
    in ANY table (OR-amplification → recall scales with n_tables).

    ONE scan: all n_tables signatures are computed in a single
    projection (plane literals inlined per table) and fanned out by
    posexplode — the previous union-of-per-table-frames shape re-read
    the vector source n_tables times (16 parquet scans for the default
    8-table near-dup plan; at 100 TB that is 15 wasted corpus passes).
    """

    def plane_sql(planes: list[list[float]]) -> str:
        # ±1.0D literals, not cast(±1.0 as double): the cast spelling
        # parses to a 3-node Cast(Decimal) subtree PER COMPONENT, and a
        # default 8-table × 4-plane × 64-dim signature set is 2,048 of
        # them — measured 1.3 s to build + 2.5 s to codegen/execute at
        # sf0.1 vs 0.4 s + 0.85 s with plain double literals, with
        # bit-identical buckets (±1.0D multiplies are exact either way).
        # Eager per-transformation re-analysis of downstream joins walks
        # this subtree repeatedly, so the plan-size saving compounds
        # (guide §7.2/§3.3: planning time on huge trees).
        return (
            "array("
            + ", ".join(
                "array(" + ", ".join(("1.0D" if x > 0 else "-1.0D") for x in row) + ")"
                for row in planes
            )
            + ")"
        )

    sigs = []
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed=t)
        sigs.append(
            f"aggregate(transform({plane_sql(planes)}, p -> "
            f"case when aggregate(zip_with(p, {vec_col}, (x, y) -> x * cast(y as double)),"
            " cast(0.0 as double), (acc, v) -> acc + v) >= 0 then 1 else 0 end),"
            " (0L, 0), (acc, b) -> (acc.col1 * 2 + b, 0), acc -> acc.col1)"
        )
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        # norm once per input row (pre-explode), reused per candidate
        F.expr(norm_expr(vec_col)).alias(f"{vec_alias}_nrm"),
        F.posexplode(F.array(*[F.expr(s) for s in sigs])).alias("table_idx", "bucket"),
    )


def lsh_bucket_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH bucket join + exact
    re-rank of candidates.

    Each of ``n_tables`` hash tables has 2^n_planes buckets; a query
    compares only against vectors sharing a bucket in some table.
    Recall grows with n_tables (OR) and shrinks with n_planes (AND) —
    the standard LSH trade; compute is ~n_tables·n/2^n_planes
    candidates per query instead of n.
    """
    dim = len(vectors.select(vec_col).first()[0])
    v = _bucket_signatures(
        vectors, "neighbor_id", "nv", id_col, vec_col, dim, n_planes, n_tables
    )
    q = _bucket_signatures(
        queries, "query_id", "qv", query_id_col, query_vec_col, dim, n_planes, n_tables
    )
    cands = (
        v.join(q, ["table_idx", "bucket"])
        .select("query_id", "qv", "qv_nrm", "neighbor_id", "nv", "nv_nrm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(F.expr(cosine_norms_expr("qv", "nv", "qv_nrm", "nv_nrm")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_bucket_topk_sql(
    vectors_table: str,
    queries_sql: str,
    k: int,
    n_planes: int,
    n_tables: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`lsh_bucket_topk` — possible because the
    hyperplanes are md5-derived ±1 literals, not RNG state: the same
    plane constants are baked into both engines' plans, the dot products
    evaluate in identical array order in double, and ranking ties break
    by neighbor id. ``queries_sql`` yields (query_id, qv)."""

    def bucket(vec_expr: str, table: int) -> str:
        planes = random_hyperplanes(dim, n_planes, seed=table)
        terms = []
        for p, row in enumerate(planes):
            lit = "[" + ", ".join(f"{x:.1f}" for x in row) + "]"
            w = 1 << (n_planes - 1 - p)
            terms.append(
                f"(CASE WHEN list_dot_product(CAST({vec_expr} AS DOUBLE[]), {lit}) >= 0"
                f" THEN {w} ELSE 0 END)"
            )
        return " + ".join(terms)

    sv = "\nUNION ALL\n".join(
        f"SELECT {id_col} AS neighbor_id, {t} AS table_idx, {bucket(vec_col, t)} AS bucket"
        f" FROM {vectors_table}"
        for t in range(n_tables)
    )
    sq = "\nUNION ALL\n".join(
        f"SELECT query_id, {t} AS table_idx, {bucket('qv', t)} AS bucket FROM q"
        for t in range(n_tables)
    )
    cos = (
        f"list_dot_product(CAST(qq.qv AS DOUBLE[]), CAST(vv.{vec_col} AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST(qq.qv AS DOUBLE[]), CAST(qq.qv AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST(vv.{vec_col} AS DOUBLE[]), CAST(vv.{vec_col} AS DOUBLE[]))))"
    )
    return f"""
WITH q AS ({queries_sql}),
sv AS ({sv}),
sq AS ({sq}),
cand AS (
  SELECT DISTINCT sq.query_id, sv.neighbor_id
  FROM sv JOIN sq ON sv.table_idx = sq.table_idx AND sv.bucket = sq.bucket
),
scored AS (
  SELECT c.query_id, c.neighbor_id, round({cos}, 6) AS cos_sim
  FROM cand c
  JOIN q qq ON c.query_id = qq.query_id
  JOIN {vectors_table} vv ON c.neighbor_id = vv.{id_col}
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans partitions the
    corpus into ``n_lists`` cells; each query probes its ``n_probe``
    nearest centroids and exact-re-ranks only those cells.

    The scale path when vectors cluster naturally: compute per query is
    ~(n_probe/n_lists)·n instead of n, and the cell assignment is a
    plain equi-join key so the probe is shuffle-friendly. Recall is
    tuned by n_probe (probe all lists ⇒ exact). Seeded KMeans keeps
    runs reproducible.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.expr(norm_expr(vec_col)).alias("nn"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__mlvec"),
    )
    km = KMeans(k=n_lists, featuresCol="__mlvec", predictionCol="cell", seed=seed)
    model = km.fit(v)
    assigned = model.transform(v).select("neighbor_id", "nv", "nn", "cell")

    # centroid table is tiny → crossJoin queries × centroids, rank,
    # keep n_probe cells per query
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cdf = queries.sparkSession.createDataFrame(centers, "cell int, cvec array<double>")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
        F.expr(norm_expr(query_vec_col)).alias("qn"),
    )
    # rank centroids by EUCLIDEAN distance — the metric KMeans assigned
    # cells with; a dot-product ranking would prefer large-norm
    # centroids and probe the wrong cells for unnormalized vectors
    qc = q.crossJoin(F.broadcast(cdf)).select(
        "query_id",
        "qv",
        "qn",
        "cell",
        F.expr(
            "aggregate(zip_with(qv, cvec, (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
            " cast(0.0 as double), (acc, p) -> acc + p)"
        ).alias("cdist2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cdist2"), F.asc("cell"))
    probes = qc.withColumn("rn", F.row_number().over(wq)).where(F.col("rn") <= n_probe)

    scored = probes.join(assigned, "cell").select(
        "query_id",
        "neighbor_id",
        F.round(F.expr(cosine_norms_expr("qv", "nv", "qn", "nn")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def semdedup(
    vectors: DataFrame,
    k_cells: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings and dropping near-identical items WITHIN each
    cluster. Returns ``(id, cell, is_kept, dup_of)`` — an item is
    dropped when some lower-id member of its cluster has cosine ≥
    ``threshold`` with it (greedy min-id representative, the same
    convention as ``dedup.dup_components``); ``dup_of`` is that lowest
    such id, NULL for kept items.

    Scale shape: the KMeans assignment is one Spark ML fit + a map-only
    transform; the quadratic compare is CONFINED to single cells by the
    self-join on ``cell`` — that bound is the whole point of SemDeDup
    (size ``k_cells`` ∝ corpus so cells stay ~constant; the LSH variant
    :func:`embedding_near_dups` is the alternative when clusters are
    unavailable). Seeded fit keeps runs reproducible; the pairwise rule
    is order-free so the output is deterministic GIVEN an assignment.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.expr(norm_expr(vec_col)).alias("nrm"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__mlvec"),
    )
    km = KMeans(k=k_cells, featuresCol="__mlvec", predictionCol="cell", seed=seed)
    assigned = km.fit(v).transform(v).select("id", "vec", "nrm", "cell")
    a, b = assigned.alias("a"), assigned.alias("b")
    dup_pairs = (
        a.join(b, "cell")
        .where(F.col("b.id") < F.col("a.id"))
        .where(
            F.round(
                F.expr(cosine_norms_expr("a.vec", "b.vec", "a.nrm", "b.nrm")), 6
            )
            >= threshold
        )
        .groupBy(F.col("a.id").alias("id"))
        .agg(F.min(F.col("b.id")).alias("dup_of"))
    )
    return (
        assigned.join(dup_pairs, "id", "left")
        .select(
            "id",
            F.col("cell").cast("long").alias("cell"),
            F.col("dup_of").isNull().alias("is_kept"),
            "dup_of",
        )
    )


def load_semdedup_centroids(path: str | None = None) -> list[list[float]]:
    """Load the vendored frozen SemDeDup centroids — a real seeded
    KMeans fit (``tools/gen_frozen_fixtures.py``) rounded to 6
    decimals so frozen assignment can run in EXACT scaled-integer
    arithmetic in both engines."""
    import json
    import os

    if path is None:
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "resources",
            "fixture_semdedup_centroids.json",
        )
    with open(path) as fh:
        cents = json.load(fh)
    if not cents or any(len(c) != len(cents[0]) for c in cents):
        raise ValueError("centroids must be a non-empty rectangular list")
    return [[float(x) for x in c] for c in cents]


def _centroids_micro(centroids) -> list[list[int]]:
    """Centroids as exact micro-unit integers (×10^6) — the shared
    conversion both the Spark impl and the SQL twin must use."""
    from datalakerulegeneration_spark.functions.exact import micro6

    return [[micro6(x) for x in c] for c in centroids]


_V6 = (
    "transform({vec}, x -> cast(cast(cast(x as double) as decimal(18,6))"
    " * 1000000 as bigint))"
)


def semdedup_frozen(
    vectors: DataFrame,
    centroids=None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`semdedup` under FROZEN centroids — the serving split of
    the r8 bpe_learn/bpe_encode pattern: the KMeans FIT is iterative
    ML (rows-only by nature), but cluster ASSIGNMENT against a frozen
    centroid table plus the within-cell keep-set is pure expression
    arithmetic with an exact DuckDB twin
    (:func:`semdedup_frozen_sql`). Same output contract as semdedup:
    ``(id, cell, is_kept, dup_of)``.

    Exactness: vectors and centroids are cast to DECIMAL(18,6) and
    scaled to BIGINT micro-units, so squared Euclidean distances are
    EXACT integers in both engines — the argmin cell (ties by cell id)
    is bit-deterministic, with no float-sum-order risk at round-6
    boundaries. Only the within-cell cosine is float, rounded to 6 like
    every other oracled cosine here.

    Scale shape: the centroid table broadcasts (16×64 here; at lake
    scale a k in the thousands still broadcasts — k rows of dim
    doubles), assignment is a map-side fold per (row, cell), and the
    quadratic compare stays confined to cells exactly as in
    :func:`semdedup`."""
    if centroids is None:
        centroids = load_semdedup_centroids()
    cents6 = _centroids_micro(centroids)
    # NULL / wrong-width vectors would hit engine-divergent NULL
    # ordering in the argmin (Spark sorts NULL dist2 first, DuckDB
    # last) — and the gate fixtures carry none, so parity could never
    # catch it. Refuse instead (the pq_index_append stance).
    dim = len(cents6[0])
    n_bad = vectors.where(
        F.col(vec_col).isNull() | (F.size(vec_col) != F.lit(dim))
    ).count()
    if n_bad:
        raise ValueError(
            f"{n_bad} vector(s) are NULL or not dim={dim} — semdedup_frozen "
            f"requires every vector to match the centroid width"
        )
    cdf = vectors.sparkSession.createDataFrame(
        list(enumerate(cents6)), "cell int, cvec6 array<bigint>"
    )
    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.expr(norm_expr(vec_col)).alias("nrm"),
        F.expr(_V6.format(vec=vec_col)).alias("_v6"),
    )
    d = v.crossJoin(F.broadcast(cdf)).select(
        "id",
        "vec",
        "nrm",
        "cell",
        F.expr(
            "aggregate(zip_with(_v6, cvec6, (x, y) -> (x - y) * (x - y)),"
            " cast(0 as bigint), (acc, p) -> acc + p)"
        ).alias("dist2"),
    )
    # argmin as min(struct(dist2, cell)) — lexicographic struct order
    # IS the (distance asc, cell asc) tie-break, and the aggregation
    # combines map-side: at k cells the crossJoin emits k rows per
    # vector, and a per-id WINDOW would shuffle-sort all N·k rows
    # (measured at sf10: window 304 s vs agg 68 s at k=256, 22 s vs
    # 5 s at k=16 — the residual k=256 cost is the 51M distance folds
    # themselves). Grouping carries vec/nrm in the key (constant per
    # id — the pq_index_append pattern).
    assigned = (
        d.groupBy("id", "vec", "nrm")
        .agg(F.min(F.struct("dist2", "cell")).alias("_best"))
        .select("id", "vec", "nrm", F.col("_best.cell").alias("cell"))
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dup_pairs = (
        a.join(b, "cell")
        .where(F.col("b.id") < F.col("a.id"))
        .where(
            F.round(
                F.expr(cosine_norms_expr("a.vec", "b.vec", "a.nrm", "b.nrm")), 6
            )
            >= threshold
        )
        .groupBy(F.col("a.id").alias("id"))
        .agg(F.min(F.col("b.id")).alias("dup_of"))
    )
    # dup_of is -1 for kept items (not NULL): a nullable BIGINT column
    # becomes float64 in pandas on one engine and not the other, which
    # breaks the driver's hash compare — the sentinel keeps it integral
    return assigned.join(dup_pairs, "id", "left").select(
        "id",
        F.col("cell").cast("long").alias("cell"),
        F.col("dup_of").isNull().alias("is_kept"),
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
    )


def semdedup_frozen_sql(
    table: str,
    centroids=None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Exact DuckDB oracle for :func:`semdedup_frozen` — identical
    micro-unit integer distances, identical argmin tie-break, the
    standard rounded-cosine pair rule."""
    if centroids is None:
        centroids = load_semdedup_centroids()
    cents6 = _centroids_micro(centroids)
    dim = len(cents6[0])
    rows = ", ".join(
        f"({i}, CAST([{', '.join(map(str, c))}] AS BIGINT[]))"
        for i, c in enumerate(cents6)
    )
    return f"""
WITH cells AS (SELECT * FROM (VALUES {rows}) t(cell, cvec6)),
v AS (
  SELECT {id_col} AS id, {vec_col} AS vec,
         sqrt(list_dot_product(CAST({vec_col} AS DOUBLE[]), CAST({vec_col} AS DOUBLE[]))) AS nrm,
         list_transform({vec_col},
           x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS v6
  FROM {table}
),
d AS (
  SELECT v.id, v.vec, v.nrm, c.cell,
         CAST(list_sum(list_transform(generate_series(1, {dim}),
           i -> (v6[CAST(i AS BIGINT)] - cvec6[CAST(i AS BIGINT)])
              * (v6[CAST(i AS BIGINT)] - cvec6[CAST(i AS BIGINT)]))) AS BIGINT) AS dist2
  FROM v CROSS JOIN cells c
),
assigned AS (
  SELECT id, vec, nrm, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cell) AS _rn FROM d
  ) WHERE _rn = 1
),
dups AS (
  SELECT a.id AS id, min(b.id) AS dup_of
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND b.id < a.id
   AND round(list_dot_product(CAST(a.vec AS DOUBLE[]), CAST(b.vec AS DOUBLE[]))
             / (a.nrm * b.nrm), 6) >= {threshold!r}
  GROUP BY a.id
)
SELECT a.id, CAST(a.cell AS BIGINT) AS cell,
       d.dup_of IS NULL AS is_kept,
       CAST(COALESCE(d.dup_of, -1) AS BIGINT) AS dup_of
FROM assigned a LEFT JOIN dups d ON a.id = d.id
"""


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    expand: str = "pairs",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH:
    ``(id_a, id_b, cos_sim)`` with cos_sim ≥ threshold. Pairs are only
    compared inside a shared bucket — the scale-safe near-dup join
    (high thresholds collide with near-certainty under sign-LSH).

    **Identical-vector collapse (stage 0.5).** The whole pipeline runs
    at ``md5(vector)`` grain — one row per DISTINCT vector. N copies of
    the same embedding (re-crawled pages, default/zero-content
    embeddings) share every bucket in every table, so an id-grain
    self-join would emit O(N²·tables) candidate rows; at digest grain
    the cluster contributes one signature, and identical-vector pairs
    are reconstructed from the (digest → id) index scored as
    round(cos(v, v), 6) — 1.0 for every non-zero vector (sqrt(d)·sqrt(d)
    is within 1 ulp of d) and NaN for zero-norm vectors, which BOTH
    engines order above any threshold (Spark and DuckDB treat NaN as
    larger than every number), so NaN self-pairs stay in the output
    exactly as the id-grain contract had them.

    ``expand="pairs"`` (default) keeps the historical all-pairs
    contract the DuckDB oracle mirrors (within-cluster expansion is
    output-sized index work, never band-join fan-out);
    ``expand="star"`` emits the connectivity-equivalent O(N)-per-
    cluster edge set (min-id rep → member within clusters, rep–rep
    across) for consumers like ``dup_components`` that only need
    components."""
    dim = len(vectors.select(vec_col).first()[0])
    base = vectors.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        # float→string is shortest-round-trip (injective), so equal
        # digests ⇔ equal vectors; r13: carry the 16-byte unhex(md5)
        # binary, not the 32-char hex string (§2.3 narrower types) —
        # unhex is injective, so every digest-keyed join/dedup is
        # bit-equivalent while the candidate dedup exchange halves
        F.unhex(F.md5(F.col(vec_col).cast("string").cast("binary"))).alias("dg"),
    )
    index = base.select("dg", "id")
    dvecs = base.groupBy("dg").agg(F.min("vec").alias("dvec"))
    v = _bucket_signatures(dvecs, "dg", "dvec", "dg", "dvec", dim, n_planes, n_tables)
    # candidate generation and dedup run NARROW (digests only): the
    # multi-table bucket self-join fans a pair out once per shared
    # bucket, and deduping those collisions while the rows still carry
    # both 64-float vectors shuffles the candidate fan-out times the
    # vector payload (sf10 profile: ~80M candidate rows × ~0.5 KB =
    # a ~40 GB exchange that was 90% of the operator's wall). Dedup the
    # 32-byte digest pairs instead, then re-attach vectors by digest.
    sig = v.select("dg", "table_idx", "bucket")
    a, b = sig.alias("a"), sig.alias("b")
    cand_dgs = (
        a.join(b, ["table_idx", "bucket"])
        .where(F.col("a.dg") < F.col("b.dg"))
        .select(F.col("a.dg").alias("dg_a"), F.col("b.dg").alias("dg_b"))
        .dropDuplicates(["dg_a", "dg_b"])
    )
    vecs = dvecs.select(
        F.col("dg").alias("vdg"),
        F.col("dvec").alias("vv"),
        F.expr(norm_expr("dvec")).alias("vn"),
    )
    va, vb = vecs.alias("va"), vecs.alias("vb")
    # merge hints: the pair side can be arbitrarily large (dup-dense
    # corpora reach 10M+ candidates — a hash build over it OOMs a
    # task) and the vector side scales with the corpus (an
    # estimate-blind broadcast OOMs the driver at 100 TB, the failure
    # the sf10 runs keep finding) — keyed sort-merge is the one shape
    # correct at every scale, same rationale as lsh_candidate_pairs
    dpairs = (
        cand_dgs.join(va.hint("merge"), F.col("dg_a") == F.col("va.vdg"))
        .join(vb.hint("merge"), F.col("dg_b") == F.col("vb.vdg"))
        .select(
            "dg_a",
            "dg_b",
            # one fold per pair; norms precomputed once per vector
            F.round(
                F.expr(cosine_norms_expr("va.vv", "vb.vv", "va.vn", "vb.vn")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )
    # within-cluster score: the digest's self-cosine (1.0, or NaN for
    # zero vectors — NaN ≥ threshold holds in Spark's and DuckDB's
    # NaN-is-largest ordering, matching the id-grain contract)
    self_cos = vecs.select(
        F.col("vdg").alias("dg"),
        F.round(F.expr(cosine_norms_expr("vv", "vv", "vn", "vn")), 6).alias("self_cos"),
    )
    if expand == "star":
        reps = index.groupBy("dg").agg(F.min("id").alias("rep"))
        ra = reps.select(F.col("dg").alias("dg_a"), F.col("rep").alias("rep_a"))
        rb = reps.select(F.col("dg").alias("dg_b"), F.col("rep").alias("rep_b"))
        cross = (
            dpairs.join(ra.hint("merge"), "dg_a")
            .join(rb.hint("merge"), "dg_b")
            .select(
                F.least("rep_a", "rep_b").alias("id_a"),
                F.greatest("rep_a", "rep_b").alias("id_b"),
                "cos_sim",
            )
        )
        within = (
            index.join(self_cos.where(F.col("self_cos") >= threshold).hint("merge"), "dg")
            .join(reps.hint("merge"), "dg")
            .where(F.col("id") != F.col("rep"))
            .select(
                F.col("rep").alias("id_a"),
                F.col("id").alias("id_b"),
                F.col("self_cos").alias("cos_sim"),
            )
        )
    else:
        ia = index.select(F.col("dg").alias("dg_a"), F.col("id").alias("ia"))
        ib = index.select(F.col("dg").alias("dg_b"), F.col("id").alias("ib"))
        cross = (
            dpairs.join(ia.hint("merge"), "dg_a")
            .join(ib.hint("merge"), "dg_b")
            .select(
                F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"),
                "cos_sim",
            )
        )
        members = index.join(
            self_cos.where(F.col("self_cos") >= threshold).hint("merge"), "dg"
        )
        wa, wb = members.alias("wa"), members.alias("wb")
        within = (
            wa.join(wb.hint("merge"), "dg")
            .where(F.col("wa.id") < F.col("wb.id"))
            .select(
                F.col("wa.id").alias("id_a"),
                F.col("wb.id").alias("id_b"),
                F.col("wa.self_cos").alias("cos_sim"),
            )
        )
    return cross.unionByName(within)


def _bucket_sql(vec_expr: str, table: int, dim: int, n_planes: int) -> str:
    """DuckDB expression for one table's sign-LSH bucket id — the same
    md5-derived ±1 plane literals :func:`_bucket_signatures` bakes into
    the Spark plan, so both engines compute identical buckets."""
    planes = random_hyperplanes(dim, n_planes, seed=table)
    terms = []
    for p, row in enumerate(planes):
        lit = "[" + ", ".join(f"{x:.1f}" for x in row) + "]"
        w = 1 << (n_planes - 1 - p)
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({vec_expr} AS DOUBLE[]), {lit}) >= 0"
            f" THEN {w} ELSE 0 END)"
        )
    return " + ".join(terms)


def embedding_near_dups_sql(
    vectors_table: str,
    threshold: float,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`embedding_near_dups`: the exact cosine
    SQL RESTRICTED to co-bucketed pairs — possible because the
    hyperplanes are md5-derived literals (same trick as
    :func:`lsh_bucket_topk_sql`), so "which pairs collide" is identical
    arithmetic in both engines, not a property of Spark's planner."""
    sv = "\nUNION ALL\n".join(
        f"SELECT {id_col} AS id, {t} AS table_idx,"
        f" {_bucket_sql(vec_col, t, dim, n_planes)} AS bucket"
        f" FROM {vectors_table}"
        for t in range(n_tables)
    )
    cos = (
        f"list_dot_product(CAST(va.{vec_col} AS DOUBLE[]), CAST(vb.{vec_col} AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST(va.{vec_col} AS DOUBLE[]), CAST(va.{vec_col} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST(vb.{vec_col} AS DOUBLE[]), CAST(vb.{vec_col} AS DOUBLE[]))))"
    )
    return f"""
WITH sv AS ({sv}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sv a JOIN sv b ON a.table_idx = b.table_idx AND a.bucket = b.bucket
  WHERE a.id < b.id
)
SELECT c.id_a, c.id_b, round({cos}, 6) AS cos_sim
FROM cand c
JOIN {vectors_table} va ON c.id_a = va.{id_col}
JOIN {vectors_table} vb ON c.id_b = vb.{id_col}
WHERE round({cos}, 6) >= {threshold}
"""


def embedding_decontaminate(
    corpus: DataFrame,
    eval_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Semantic (embedding-space) benchmark decontamination audit: for
    every corpus vector, its max cosine against ANY held-out eval
    vector, plus a ``contaminated`` flag at ``threshold`` — the
    embedding companion to the fingerprint/shingle/Bloom scrubs
    (exact-match decontamination misses paraphrased leaks; cosine
    against the eval set's embeddings catches them).

    Scale shape: eval suites are small by design (same contract as
    ``ngram_overlap``'s broadcast eval grams), so the eval side is
    BROADCAST with precomputed norms and the corpus is scanned ONCE
    map-side — score, then a partial-agg max per corpus id. No corpus
    shuffle beyond the per-id max combine; 100 TB of corpus streams
    through at scan speed. Cosine = one fold per pair via
    :func:`cosine_norms_expr` (bit-identical to :func:`cosine_expr`);
    rounded to 6 dp for engine parity.
    """
    ev = eval_vectors.select(
        F.col(vec_col).alias("ev"), F.expr(norm_expr(vec_col)).alias("en")
    )
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("cv"),
        F.expr(norm_expr(vec_col)).alias("cn"),
    )
    scored = c.join(F.broadcast(ev)).select(
        "id",
        F.round(F.expr(cosine_norms_expr("cv", "ev", "cn", "en")), 6).alias("cos"),
    )
    return (
        scored.groupBy("id")
        .agg(F.max("cos").alias("max_eval_cos"))
        .withColumn("contaminated", F.col("max_eval_cos") >= F.lit(threshold))
    )


def embedding_decontaminate_sql(
    vectors_table: str,
    eval_sql: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> str:
    """DuckDB oracle for :func:`embedding_decontaminate`. ``eval_sql``
    yields one ``ev`` (eval vector) column."""
    cos = (
        f"list_dot_product(CAST(c.{vec_col} AS DOUBLE[]), CAST(e.ev AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST(c.{vec_col} AS DOUBLE[]), CAST(c.{vec_col} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST(e.ev AS DOUBLE[]), CAST(e.ev AS DOUBLE[]))))"
    )
    return f"""
WITH ev AS ({eval_sql}),
scored AS (
  SELECT c.{id_col} AS id, round({cos}, 6) AS cos
  FROM {vectors_table} c CROSS JOIN ev e
)
SELECT id, max(cos) AS max_eval_cos,
       max(cos) >= {threshold} AS contaminated
FROM scored GROUP BY id
"""


def rrf_fuse(
    legs: list[DataFrame], depth: int = 100, k: int = 60, n: int = 20
) -> DataFrame:
    """Reciprocal-rank fusion of retrieval legs (hybrid search: e.g. a
    BM25 keyword leg + an embedding-cosine leg). Each leg is an
    ``(id, score)`` frame; a doc's fused score is
    ``Σ_legs 1/(k + rank_leg)`` over the legs that ranked it in their
    top ``depth``.

    Scale shape: each leg reduces to its top-``depth`` rows FIRST via
    ``orderBy().limit()`` (TakeOrderedAndProject — parallel partial
    top-k, no global sort), and only the depth-row frames see a rank
    window (single-partition over ``depth`` rows — bounded by
    construction, same class as the profiler's #columns frames). Legs
    then union + one tiny groupBy. Scores should already be rounded by
    the caller so leg order is engine-stable; ranks break ties by id.
    """
    ranked = []
    for leg in legs:
        top = leg.select("id", "score").orderBy(F.desc("score"), F.asc("id")).limit(depth)
        # depth-row frame; the unpartitioned window scans only those rows
        w = Window.orderBy(F.desc("score"), F.asc("id"))
        ranked.append(
            top.withColumn("rank", F.row_number().over(w)).select(
                "id", (F.lit(1.0) / (F.lit(k) + F.col("rank"))).alias("contrib")
            )
        )
    u = ranked[0]
    for r in ranked[1:]:
        u = u.unionByName(r)
    return (
        u.groupBy("id")
        .agg(F.round(F.sum("contrib"), 6).alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("id"))
        .limit(n)
    )


# ---------------------------------------------------------------------------
# compressed-domain retrieval: SQ8 scalar quantization + JL projection
# ---------------------------------------------------------------------------

def sq8_stats(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Single-row frame of per-dimension corpus (min, max) arrays —
    the codebook for scalar quantization.

    Shape: posexplode to (dim, value) then a dim-grain min/max hash agg
    (partial aggregation collapses each task to #dims rows, so the
    shuffle is #dims × #tasks regardless of corpus size), assembled
    back into dim-ordered arrays. One corpus scan."""
    d = vectors.select(F.posexplode(F.col(vec_col)).alias("d", "v"))
    st = d.groupBy("d").agg(
        F.min("v").cast("double").alias("mn"), F.max("v").cast("double").alias("mx")
    )
    return st.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )


def _sq8_sql(table: str, id_col: str, vec_col: str) -> str:
    """DuckDB CTE body producing (id, qvec) — the same stats + affine
    map arithmetic in the same operation order, so every int matches."""
    return f"""
dx AS (
  SELECT unnest({vec_col}) AS v,
         unnest(generate_series(1, len({vec_col}))) AS dd
  FROM {table}
),
st AS (SELECT dd, CAST(min(v) AS DOUBLE) AS mn, CAST(max(v) AS DOUBLE) AS mx FROM dx GROUP BY dd),
cb AS (SELECT list(mn ORDER BY dd) AS mns, list(mx ORDER BY dd) AS mxs FROM st),
qv AS (
  SELECT {id_col} AS id,
         list_transform(generate_series(1, len({vec_col})),
           i -> CASE WHEN mxs[i] - mns[i] = 0.0 THEN 0
                     ELSE least(255, greatest(0,
                       CAST(floor((CAST({vec_col}[i] AS DOUBLE) - mns[i]) / (mxs[i] - mns[i]) * 255.0 + 0.5) AS INT)))
                END) AS qvec
  FROM {table}, cb
)"""


def quantized_topk(
    vectors: DataFrame,
    probe_ids_under: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compressed-domain brute-force top-k over SQ8 codes —
    ``(query_id, neighbor_id, cos_sim, rank)``. Codes are the STORAGE
    form (the 4x IO cut that makes a 100 TB ANN corpus scannable);
    scoring de-quantizes on the fly (``x^ = mn + q*range/255``) and
    ranks by reconstructed cosine — the standard asymmetric-distance
    trick, so ranking quality tracks the true cosine to within
    1/255-per-dim reconstruction error instead of being distorted by
    the affine offsets a raw code dot-product ignores. Probe set =
    corpus rows with id < ``probe_ids_under`` (same codebook,
    broadcast); every arithmetic step is mirrored in the oracle, so
    the match is exact. Ties break by neighbor id."""
    st = sq8_stats(vectors, vec_col)
    base = vectors.crossJoin(F.broadcast(st))
    centered = F.zip_with(F.col(vec_col), F.col("mns"), lambda x, m: x.cast("double") - m)
    ranges = F.zip_with(F.col("mxs"), F.col("mns"), lambda a, b: a - b)
    qvec = F.zip_with(
        centered,
        ranges,
        lambda c, r: F.when(r == 0.0, F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.greatest(F.lit(0), F.floor(c / r * 255.0 + 0.5).cast("int")),
            )
        ),
    )
    scaled = F.zip_with(qvec, ranges, lambda q, r: q * r / 255.0)
    rvec = F.zip_with(scaled, F.col("mns"), lambda t, m: t + m)
    qz = base.select(F.col(id_col).alias("id"), rvec.alias("rvec")).withColumn(
        "rn_", F.expr(norm_expr("rvec"))
    )
    probes = qz.where(F.col("id") < probe_ids_under).select(
        F.col("id").alias("query_id"), F.col("rvec").alias("qr"), F.col("rn_").alias("qn_")
    )
    scored = qz.crossJoin(F.broadcast(probes)).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(F.expr(cosine_norms_expr("qr", "rvec", "qn_", "rn_")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def quantized_topk_sql(
    table: str,
    probe_ids_under: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`quantized_topk` — quantize, then
    de-quantize with the identical multiply/divide/add order, then the
    same left-fold cosine, so the doubles agree bit-for-bit."""
    return f"""
WITH {_sq8_sql(table, id_col, vec_col)},
rv AS (
  SELECT q.id,
         list_transform(generate_series(1, len(q.qvec)),
           i -> (q.qvec[i] * (cb.mxs[i] - cb.mns[i]) / 255.0) + cb.mns[i]) AS rvec
  FROM qv q, cb
),
probes AS (SELECT id AS query_id, rvec AS qr FROM rv WHERE id < {probe_ids_under}),
scored AS (
  SELECT p.query_id, v.id AS neighbor_id,
         round(
           list_dot_product(p.qr, v.rvec)
           / (sqrt(list_dot_product(p.qr, p.qr)) * sqrt(list_dot_product(v.rvec, v.rvec))),
           6) AS cos_sim
  FROM rv v, probes p
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def ivf_sq8_topk(
    vectors: DataFrame,
    probe_ids_under: int,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF-SQ8: the standard big-corpus ANN layout — SQ8 codes stored
    per KMeans cell; a query probes its ``n_probe`` nearest centroids
    and re-ranks ONLY those cells' codes by reconstructed
    (de-quantized) cosine. Composes :func:`ivf_topk`'s routing with
    :func:`quantized_topk`'s compressed-domain scoring:
    the inverted file cuts compute to ~(n_probe/n_lists)·n per query,
    the codes cut storage/IO 4× vs fp32 — at 100 TB both cuts are what
    makes the index scannable at all.

    The quantize → de-quantize arithmetic (half-up ``floor(x·255+0.5)``,
    then ``mn + q·range/255``) is IDENTICAL, operation for operation,
    to :func:`quantized_topk`, and a vector lands in exactly one cell —
    so at FULL probe (n_probe ≥ n_lists) the output equals
    compressed-domain brute force regardless of how the seeded KMeans
    split the corpus, making the whole composition checkable against
    ``quantized_topk_sql``. KMeans fits on the RECONSTRUCTED vectors
    (the form the index actually stores), keeping centroids and codes
    in the same space; probes are corpus rows with id <
    ``probe_ids_under``, reconstructed through the same codebook.
    Centroid routing ranks by squared euclidean distance (the metric
    KMeans assigned cells with); similarity rounds to 6 dp, ties break
    by neighbor id."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    st = sq8_stats(vectors, vec_col)
    base = vectors.crossJoin(F.broadcast(st))
    centered = F.zip_with(F.col(vec_col), F.col("mns"), lambda x, m: x.cast("double") - m)
    ranges = F.zip_with(F.col("mxs"), F.col("mns"), lambda a, b: a - b)
    qvec = F.zip_with(
        centered,
        ranges,
        lambda c, r: F.when(r == 0.0, F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.greatest(F.lit(0), F.floor(c / r * 255.0 + 0.5).cast("int")),
            )
        ),
    )
    scaled = F.zip_with(qvec, ranges, lambda q, r: q * r / 255.0)
    rvec = F.zip_with(scaled, F.col("mns"), lambda t, m: t + m)
    coded = base.select(
        F.col(id_col).alias("id"), qvec.alias("qvec"), rvec.alias("rvec")
    ).withColumn("rn_", F.expr(norm_expr("rvec"))).withColumn(
        "__mlvec", array_to_vector(F.col("rvec"))
    )
    km = KMeans(k=n_lists, featuresCol="__mlvec", predictionCol="cell", seed=seed)
    model = km.fit(coded)
    # the inverted file: codes (+ their reconstruction) keyed by cell
    assigned = model.transform(coded).select("cell", "id", "rvec", "rn_")

    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cdf = vectors.sparkSession.createDataFrame(centers, "cell int, cvec array<double>")
    probes = assigned.where(F.col("id") < probe_ids_under).select(
        F.col("id").alias("query_id"), F.col("rvec").alias("qr"), F.col("rn_").alias("qn_")
    )
    qc = probes.crossJoin(F.broadcast(cdf)).select(
        "query_id",
        "qr",
        "qn_",
        "cell",
        F.expr(
            "aggregate(zip_with(qr, cvec, (x, y) -> (x - y) * (x - y)),"
            " cast(0.0 as double), (acc, p) -> acc + p)"
        ).alias("cdist2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cdist2"), F.asc("cell"))
    routed = qc.withColumn("rn", F.row_number().over(wq)).where(F.col("rn") <= n_probe)

    scored = routed.join(assigned, "cell").select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(F.expr(cosine_norms_expr("qr", "rvec", "qn_", "rn_")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# product quantization (PQ) with deterministic anchor codebooks
# ---------------------------------------------------------------------------

def pq_anchors(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace PQ codebooks ``(j, code, cvec)`` — the vector space
    splits into ``m`` contiguous subspaces; subspace ``j``'s codebook
    is the ``ksub`` CORPUS subvectors whose ``md5(id:j)`` ranks
    smallest (codes numbered in that rank order).

    Deterministic anchor sampling instead of per-subspace KMeans is
    the same trade the sign-LSH family makes (md5-derived planes):
    codebooks become pure arithmetic over the data, so encoding,
    reconstruction, and ADC ranking all have EXACT DuckDB oracles —
    KMeans codebooks would squeeze more recall per bit but turn the
    whole operator rows-only. Anchors are real data points, so they
    track the corpus distribution the way sampled k-medoid seeds do.

    Shape: one explode to (id, j, subvec) and a per-``j`` top-ksub by
    rank hash — row_number over partitionBy(j) ≤ ksub, which Spark
    executes as WindowGroupLimit (map-side partial top-k), so no task
    ever holds more than ksub rows per subspace."""
    dim = len(vectors.select(vec_col).first()[0])
    dsub = dim // m
    ex = vectors.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("j"),
        F.col(vec_col).alias("v"),
    ).select(
        "id",
        "j",
        F.expr(f"transform(slice(v, j * {dsub} + 1, {dsub}), x -> cast(x as double))").alias("subvec"),
        F.md5(F.concat(F.col("id").cast("string"), F.lit(":"), F.col("j").cast("string"))).alias("rh"),
    )
    w = Window.partitionBy("j").orderBy(F.asc("rh"), F.asc("id"))
    return (
        ex.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= ksub)
        .select("j", (F.col("rn") - 1).alias("code"), F.col("subvec").alias("cvec"))
    )


def pq_topk(
    vectors: DataFrame,
    probe_ids_under: int,
    k: int = 10,
    m: int = 8,
    ksub: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization top-k — ``(query_id, neighbor_id, cos_sim,
    rank)``. Each corpus vector is stored as ``m`` small codes (m·log2
    (ksub) bits ≈ 5 bytes here vs 256 for fp32 — the compression that
    makes exhaustive scans of a 100 TB ANN corpus possible); ranking
    reconstructs x̂ by concatenating the coded anchors and scores
    cos(q̂, x̂) over reconstructions. A left fold over the concatenated
    reconstruction adds the per-subspace partial dots in subspace
    order, so this is numerically IDENTICAL to the classic ADC
    table-lookup sum — and, with the deterministic anchors of
    :func:`pq_anchors`, exactly reproducible in SQL. Probes are corpus
    rows with id < ``probe_ids_under``, reconstructed through the same
    codebooks (symmetric distance, the quantized_topk convention).
    Ties rank by neighbor id.

    Encode: nearest anchor per (vector, subspace), ties by code asc —
    anchors are m·ksub rows (broadcast); the squared-euclidean fold in
    array order keeps the distance doubles engine-identical.
    Reconstruction concatenates subspace anchors in j order (the
    array_sort on (j, …) structs makes assembly order deterministic)."""
    recon = _pq_reconstructions(vectors, m, ksub, id_col, vec_col)
    probes = recon.where(F.col("id") < probe_ids_under).select(
        F.col("id").alias("query_id"), F.col("rvec").alias("qr"), F.col("rn_").alias("qn_")
    )
    scored = recon.crossJoin(F.broadcast(probes)).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(F.expr(cosine_norms_expr("qr", "rvec", "qn_", "rn_")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def pq_topk_sql(
    table: str,
    probe_ids_under: int,
    k: int = 10,
    m: int = 8,
    ksub: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`pq_topk` — same md5 anchor ranking,
    same nearest-anchor encode (ties by code), same j-ordered
    reconstruction and left-fold cosine."""
    dsub = dim // m
    return f"""
WITH ex AS (
  SELECT {id_col} AS id, j.j,
         list_transform(list_slice(CAST({vec_col} AS DOUBLE[]), j.j * {dsub} + 1, (j.j + 1) * {dsub}), x -> x) AS subvec,
         md5(CAST({id_col} AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)) AS rh
  FROM {table}, (SELECT unnest(generate_series(0, {m - 1})) AS j) j
),
anchors AS (
  SELECT j, rn - 1 AS code, subvec AS cvec FROM (
    SELECT j, subvec, row_number() OVER (PARTITION BY j ORDER BY rh, id) AS rn
    FROM ex
  ) WHERE rn <= {ksub}
),
coded AS (
  SELECT id, j, min({{'d2': d2, 'code': code, 'cvec': cvec}}) AS best FROM (
    SELECT ex.id, ex.j, a.code, a.cvec,
           list_sum(list_transform(generate_series(1, {dsub}),
             i -> (ex.subvec[i] - a.cvec[i]) * (ex.subvec[i] - a.cvec[i]))) AS d2
    FROM ex JOIN anchors a ON ex.j = a.j
  ) GROUP BY id, j
),
recon AS (
  SELECT id, flatten(list((best).cvec ORDER BY j)) AS rvec FROM coded GROUP BY id
),
probes AS (SELECT id AS query_id, rvec AS qr FROM recon WHERE id < {probe_ids_under}),
scored AS (
  SELECT p.query_id, v.id AS neighbor_id,
         round(
           list_dot_product(p.qr, v.rvec)
           / (sqrt(list_dot_product(p.qr, p.qr)) * sqrt(list_dot_product(v.rvec, v.rvec))),
           6) AS cos_sim
  FROM recon v, probes p
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def _pq_reconstructions(
    vectors: DataFrame,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, rvec, rn_) — PQ-coded vectors reconstructed through the
    deterministic anchor codebooks (shared by :func:`pq_topk` and
    :func:`ivf_pq_topk`)."""
    dim = len(vectors.select(vec_col).first()[0])
    dsub = dim // m
    anchors = pq_anchors(vectors, m, ksub, id_col, vec_col)
    ex = vectors.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("j"),
        F.col(vec_col).alias("v"),
    ).select(
        "id",
        "j",
        F.expr(f"transform(slice(v, j * {dsub} + 1, {dsub}), x -> cast(x as double))").alias("subvec"),
    )
    dist = F.expr(
        "aggregate(zip_with(subvec, cvec, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (acc, p) -> acc + p)"
    )
    coded = (
        ex.join(F.broadcast(anchors), "j")
        .withColumn("d2", dist)
        .groupBy("id", "j")
        .agg(F.min(F.struct(F.col("d2"), F.col("code"), F.col("cvec"))).alias("best"))
    )
    return coded.groupBy("id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("j"), F.col("best.cvec").alias("cvec")))),
                lambda s: s["cvec"],
            )
        ).alias("rvec")
    ).withColumn("rn_", F.expr(norm_expr("rvec")))


def ivf_pq_topk(
    vectors: DataFrame,
    probe_ids_under: int,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ — the standard production big-corpus ANN layout (what
    FAISS ships as its default index family): PQ codes (~5 bytes/
    vector) stored per KMeans cell, queries probe ``n_probe``
    centroid-routed cells and re-rank only those cells' codes by
    reconstructed cosine. Compute ≈ (n_probe/n_lists)·n per query on
    top of PQ's ~50× storage cut.

    Same checkability construction as :func:`ivf_sq8_topk`: the PQ
    reconstruction is deterministic (md5-ranked anchors, j-ordered
    concatenation) and a vector lands in exactly one cell, so FULL
    probe (n_probe ≥ n_lists) equals PQ brute force regardless of the
    seeded KMeans split — gated on ``pq_topk_sql``. KMeans fits on the
    reconstructions (the stored form); probes are corpus rows with
    id < ``probe_ids_under`` reconstructed through the same codebooks;
    centroid routing by squared euclidean; ties rank by neighbor id."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    recon = _pq_reconstructions(vectors, m, ksub, id_col, vec_col).withColumn(
        "__mlvec", array_to_vector(F.col("rvec"))
    )
    km = KMeans(k=n_lists, featuresCol="__mlvec", predictionCol="cell", seed=seed)
    model = km.fit(recon)
    assigned = model.transform(recon).select("cell", "id", "rvec", "rn_")

    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cdf = vectors.sparkSession.createDataFrame(centers, "cell int, cvec array<double>")
    probes = assigned.where(F.col("id") < probe_ids_under).select(
        F.col("id").alias("query_id"), F.col("rvec").alias("qr"), F.col("rn_").alias("qn_")
    )
    qc = probes.crossJoin(F.broadcast(cdf)).select(
        "query_id",
        "qr",
        "qn_",
        "cell",
        F.expr(
            "aggregate(zip_with(qr, cvec, (x, y) -> (x - y) * (x - y)),"
            " cast(0.0 as double), (acc, p) -> acc + p)"
        ).alias("cdist2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cdist2"), F.asc("cell"))
    routed = qc.withColumn("rn", F.row_number().over(wq)).where(F.col("rn") <= n_probe)

    scored = routed.join(assigned, "cell").select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(F.expr(cosine_norms_expr("qr", "rvec", "qn_", "rn_")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def pq_rerank_topk(
    vectors: DataFrame,
    probe_ids_under: int,
    k: int = 10,
    rerank: int = 50,
    m: int = 8,
    ksub: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval — the production pattern every compressed
    index feeds: PQ pre-rank selects each query's top-``rerank``
    candidates from codes (the cheap, compressed-domain scan), then
    ONLY those candidates are re-scored with full-precision cosine and
    cut to top-``k``. Recall approaches exact as ``rerank`` grows while
    the fp32 reads stay O(queries·rerank) instead of O(queries·n) —
    at 100 TB the re-rank join touches a few KB per query. Exact
    oracle: the PQ candidate set is deterministic (md5 anchors) and the
    re-rank is plain cosine arithmetic. Ties rank by neighbor id."""
    cands = pq_topk(vectors, probe_ids_under, k=rerank, m=m, ksub=ksub,
                    id_col=id_col, vec_col=vec_col).select("query_id", "neighbor_id")
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.expr(norm_expr(vec_col)).alias("nn"),
    )
    q = vectors.where(F.col(id_col) < probe_ids_under).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.expr(norm_expr(vec_col)).alias("qn"),
    )
    # candidate-keyed re-rank: the probe frame is constant-size
    # (broadcast); the neighbor re-attach is merge-hinted for the same
    # estimate-blindness reason as embedding_near_dups
    scored = (
        cands.join(F.broadcast(q), "query_id")
        .join(v.hint("merge"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(cosine_norms_expr("qv", "nv", "qn", "nn")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def pq_rerank_topk_sql(
    table: str,
    probe_ids_under: int,
    k: int = 10,
    rerank: int = 50,
    m: int = 8,
    ksub: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`pq_rerank_topk`: the PQ oracle as the
    candidate CTE, then the exact-cosine re-rank over the base table."""
    inner = pq_topk_sql(table, probe_ids_under, rerank, m, ksub, dim, id_col, vec_col).strip()
    cos = (
        f"list_dot_product(CAST(q.{vec_col} AS DOUBLE[]), CAST(v.{vec_col} AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST(q.{vec_col} AS DOUBLE[]), CAST(q.{vec_col} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST(v.{vec_col} AS DOUBLE[]), CAST(v.{vec_col} AS DOUBLE[]))))"
    )
    return f"""
WITH cands AS (SELECT query_id, neighbor_id FROM ({inner})),
scored AS (
  SELECT c.query_id, c.neighbor_id, round({cos}, 6) AS cos_sim
  FROM cands c
  JOIN {table} q ON c.query_id = q.{id_col}
  JOIN {table} v ON c.neighbor_id = v.{id_col}
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def project_embeddings(
    vectors: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Johnson–Lindenstrauss sign projection: ``out_dim`` components,
    each the dot product with an md5-derived ±1 row (the same
    deterministic plane generator the LSH family uses, WITHOUT taking
    the sign) — ``(id, pvec: array<double>)``. A 64→16 projection cuts
    the ANN scan 4× while approximately preserving cosine geometry;
    being literal arithmetic, the DuckDB oracle reproduces every
    component bit-for-bit. Map-only — no shuffle, no stats pass."""
    dim = len(vectors.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, out_dim, seed)
    comps = [
        F.expr(
            f"aggregate(zip_with({vec_col}, array({', '.join(f'{x:.1f}D' for x in row)}),"
            " (x, p) -> cast(x as double) * p), cast(0.0 as double), (acc, v) -> acc + v)"
        )
        for row in planes
    ]
    return vectors.select(F.col(id_col).alias("id"), F.array(*comps).alias("pvec"))


def projected_topk(
    vectors: DataFrame,
    probe_ids_under: int,
    out_dim: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Top-k by cosine in the JL-projected space — the cheap pre-rank
    a full-precision re-rank refines. Same broadcast-probe shape as
    :func:`brute_force_topk`; cosine rounded to 6 dp, ties by id."""
    pv = project_embeddings(vectors, out_dim, id_col, vec_col, seed).withColumn(
        "pn", F.expr(norm_expr("pvec"))
    )
    probes = pv.where(F.col("id") < probe_ids_under).select(
        F.col("id").alias("query_id"), F.col("pvec").alias("qp"), F.col("pn").alias("qpn")
    )
    scored = pv.crossJoin(F.broadcast(probes)).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(F.expr(cosine_norms_expr("qp", "pvec", "qpn", "pn")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def projected_topk_sql(
    table: str,
    dim: int,
    probe_ids_under: int,
    out_dim: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> str:
    """DuckDB oracle for :func:`projected_topk` — the ±1 rows are
    literals, and both engines left-fold the projection dot product in
    array order, so the projected doubles are identical."""
    planes = random_hyperplanes(dim, out_dim, seed)
    comps = ", ".join(
        f"list_dot_product(CAST({vec_col} AS DOUBLE[]),"
        f" [{', '.join(f'{x:.1f}' for x in row)}])"
        for row in planes
    )
    cos = (
        "list_dot_product(p.qp, v.pvec)"
        " / (sqrt(list_dot_product(p.qp, p.qp)) * sqrt(list_dot_product(v.pvec, v.pvec)))"
    )
    return f"""
WITH pv AS (
  SELECT {id_col} AS id, [{comps}] AS pvec FROM {table}
),
probes AS (SELECT id AS query_id, pvec AS qp FROM pv WHERE id < {probe_ids_under}),
scored AS (
  SELECT p.query_id, v.id AS neighbor_id, round({cos}, 6) AS cos_sim
  FROM pv v, probes p
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def pca_embeddings(
    vectors: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Principal-component projection — the DATA-DEPENDENT counterpart
    of :func:`project_embeddings` (JL is oblivious; PCA spends a
    covariance pass to align components with the corpus's actual
    variance directions, so at equal ``out_dim`` it preserves more
    neighborhood structure on anisotropic embeddings). One Spark
    aggregate sums the (d+1)² moments of ``[1, x]`` (count, column sums,
    Gramian) in DECIMAL, so the sums are exact and independent of merge
    order; only the d×d covariance eigenproblem runs on the driver
    (``numpy.linalg.eigh``) — d is the embedding width, never the
    corpus. Components are ordered by descending variance and each is
    signed so its largest-magnitude entry is positive, which makes the
    projection deterministic for a given corpus. Vectors are projected
    uncentered, as Spark ML's ``PCAModel`` does. Not SQL-expressible →
    registered rows-only, with pytest pinning determinism + recall.

    Returns ``(id, pvec: array<double>)``.
    """
    import numpy as np

    x = F.concat(F.array(F.lit(1.0)), F.col(vec_col).cast("array<double>"))
    moments = (
        vectors.select(x.alias("x"))
        .select(
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(x) * size(x) - 1),"
                    " k -> x[k div size(x)] * x[k % size(x)])"
                )
            ).alias("k", "m")
        )
        .groupBy("k")
        .agg(F.sum(F.col("m").cast("decimal(38,18)")).alias("m"))
        .collect()
    )
    dim = round(len(moments) ** 0.5)
    mm = np.zeros(dim * dim)
    for r in moments:
        mm[r["k"]] = float(r["m"])
    mm = mm.reshape(dim, dim)
    n, mean = mm[0, 0], mm[0, 1:] / mm[0, 0]
    cov = (mm[1:, 1:] - n * np.outer(mean, mean)) / (n - 1)
    comps = np.linalg.eigh(cov)[1][:, ::-1][:, :out_dim].T
    comps *= np.sign(comps[np.arange(len(comps)), np.abs(comps).argmax(axis=1)])[:, None]
    basis = F.array(*[F.array(*[F.lit(float(c)) for c in row]) for row in comps])
    v = F.col(vec_col).cast("array<double>")
    return vectors.select(
        F.col(id_col).alias("id"),
        F.transform(
            basis,
            lambda c: F.aggregate(
                F.zip_with(v, c, lambda a, b: a * b), F.lit(0.0), lambda acc, p: acc + p
            ),
        ).alias("pvec"),
    )


def pca_topk(
    vectors: DataFrame,
    probe_ids_under: int,
    out_dim: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine in PCA space — same broadcast-probe shape as
    :func:`projected_topk`, with the data-dependent projection."""
    pv = pca_embeddings(vectors, out_dim, id_col, vec_col).withColumn(
        "pn", F.expr(norm_expr("pvec"))
    )
    probes = pv.where(F.col("id") < probe_ids_under).select(
        F.col("id").alias("query_id"), F.col("pvec").alias("qp"), F.col("pn").alias("qpn")
    )
    scored = pv.crossJoin(F.broadcast(probes)).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(F.expr(cosine_norms_expr("qp", "pvec", "qpn", "pn")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def centroid_outliers(
    vectors: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    threshold: float = 0.5,
) -> DataFrame:
    """Mislabel/noise audit: every vector's cosine to its OWN label's
    centroid, flagged below ``threshold`` — the standard embedding-
    space label-quality check (points far from their class prototype
    are mislabeled, ambiguous, or garbage; SemDeDup's cluster-confined
    compare is the dedup cousin of the same idea).

    Scale shape: centroids come from ONE posexplode + (label, dim)
    groupBy with exact decimal sums (the engine-portable mean — see
    embedding_centroids_by_label), reassembled into #labels rows and
    BROADCAST; the corpus then scores map-side in a single pass. All
    JVM-side; cosine rounded 6 dp.

    Returns ``(id, label, centroid_cos, is_outlier)``.
    """
    ex = vectors.select(
        F.col(label_col).cast("long").alias("label"),
        F.posexplode(vec_col).alias("dim", "v"),
    )
    cent = ex.groupBy("label", "dim").agg(
        (
            F.sum(F.expr("cast(cast(v as double) as decimal(18,6))")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("c")
    )
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cvec")
    ).withColumn("cn", F.expr(norm_expr("cvec")))
    scored = (
        vectors.select(
            F.col(id_col).alias("id"),
            F.col(label_col).cast("long").alias("label"),
            F.col(vec_col).alias("ev"),
            F.expr(norm_expr(vec_col)).alias("en"),
        )
        .join(F.broadcast(cvec), "label")
        .select(
            "id",
            "label",
            F.round(F.expr(cosine_norms_expr("ev", "cvec", "en", "cn")), 6).alias(
                "centroid_cos"
            ),
        )
    )
    return scored.withColumn("is_outlier", F.col("centroid_cos") < F.lit(threshold))


def centroid_outliers_sql(
    table: str,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle for :func:`centroid_outliers`."""
    cos = (
        f"list_dot_product(CAST(t.{vec_col} AS DOUBLE[]), cv.cvec)"
        f" / (sqrt(list_dot_product(CAST(t.{vec_col} AS DOUBLE[]), CAST(t.{vec_col} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(cv.cvec, cv.cvec)))"
    )
    return f"""
WITH ex AS (
  SELECT CAST({label_col} AS BIGINT) AS label,
         unnest({vec_col}) AS v,
         unnest(generate_series(1, len({vec_col}))) AS i
  FROM {table}
),
cent AS (
  SELECT label, i,
         CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS c
  FROM ex GROUP BY label, i
),
cv AS (
  SELECT label, list(c ORDER BY i) AS cvec FROM cent GROUP BY label
)
SELECT t.{id_col} AS id, CAST(t.{label_col} AS BIGINT) AS label,
       round({cos}, 6) AS centroid_cos,
       round({cos}, 6) < {threshold} AS is_outlier
FROM {table} t JOIN cv ON CAST(t.{label_col} AS BIGINT) = cv.label
"""
