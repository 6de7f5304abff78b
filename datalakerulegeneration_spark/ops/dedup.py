"""Deduplication operators for training-data pipelines.

Four families, all shuffle-conscious (no O(n²) cross joins):

* **exact**      — hash groupBy on the full text;
* **MinHash+LSH** — word shingles → k md5-derived min-hashes → banded
  signatures → candidate pairs via an equi-join on (band, band_hash)
  → exact-Jaccard verification of candidates only;
* **n-gram Jaccard** — candidate pairs = pairs sharing ≥1 shingle
  (inverted-index join), Jaccard from intersection counts;
* **SimHash**    — 32-bit fingerprint from token hashes; near-dup =
  pairs agreeing on ≥1 of 4 bit-bands with Hamming distance ≤ k.

Portability contract: every hash is md5-based (identical hex in Spark
and DuckDB; 15 hex chars → unsigned-safe BIGINT), so each operator has
an exactly-matching DuckDB oracle — the ``*_SQL`` builders emit it.

At 100 TB: shingling/minhashing are map-side only; the only shuffles
are the signature groupBy (keyed by doc) and the band join (keyed by
band hash, which LSH makes near-uniform). Exact-verify touches only
candidate pairs. Band count / rows-per-band trade recall for join
fan-out; defaults (16 hashes = 4×4) suit ~0.5+ Jaccard targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import checkpoint, persist, release

N_HASHES = 16
N_BANDS = 4  # 4 rows per band

# Universal-hash family for minhash: ONE md5 per shingle (28-bit base
# hash) and k affine derivations (a_i·h + b_i) mod P — the classic
# (a·x+b mod p) permutation family, portable bit-for-bit to DuckDB.
# Constants are md5-derived so both SQL builders embed identical
# literals; all products stay < 2^56 (no BIGINT overflow in either
# engine).
_MINHASH_PRIME = 1073741789  # largest prime < 2^30


def _minhash_params(k: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(k):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:7], 16)
        out.append((a, b))
    return out


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: one row per duplicated text with the
    keeper (min id) and the duplicate count.

    The shuffle is keyed on ``md5(text)`` carrying only (digest, id) —
    at 100 TB the exchange moves 32-char digests, never the document
    bodies. md5 collisions are negligible at any corpus size (2^-64
    birthday bound at 10^12 docs), and the DuckDB oracle groups by the
    same digest so parity is exact.
    """
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_digest"))
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
        .select("keeper_id", "n_copies")
    )


def exact_dedup_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
SELECT min({id_col}) AS keeper_id, count(*) AS n_copies
FROM {table}
GROUP BY md5({text_col})
HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# word shingles (shared by minhash / ngram-jaccard)
# ---------------------------------------------------------------------------

def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct n-word shingles per document: ``(id, shingle)``.

    Tokenizer: lowercase, split on whitespace runs, drop empties —
    the same normalization the profiler's token pass uses.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .where(F.size("toks") >= n)
        .select(
            "id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(toks, i, {n})))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def shingles_sql(table: str, id_col: str, text_col: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingles` (as a FROM-able subquery)."""
    return f"""
SELECT DISTINCT id, shingle FROM (
  SELECT {id_col} AS id,
         unnest(list_transform(
           generate_series(1, len(toks) - {n - 1}),
           i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' ')
         )) AS shingle
  FROM (
    SELECT {id_col}, list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '') AS toks
    FROM {table}
  ) base
  WHERE len(toks) >= {n}
)
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _hash64(col_expr: str) -> str:
    """Spark SQL: md5-derived 60-bit integer (portable to DuckDB)."""
    return f"cast(conv(substr(md5({col_expr}), 1, 15), 16, 10) as bigint)"


def minhash_signatures(sh: DataFrame, k: int = N_HASHES) -> DataFrame:
    """k min-hashes per doc: ``(id, h0..h{k-1})``.

    ONE md5 per shingle; the k permutations are affine derivations of
    that base hash (universal-hash family), so the map-side cost is a
    single digest + k integer ops per shingle instead of k digests.
    One groupBy(id) with k min aggregates.
    """
    base = sh.select(
        "id",
        F.expr("cast(conv(substr(md5(shingle), 1, 7), 16, 10) as bigint)").alias("hb"),
    )
    return base.groupBy("id").agg(
        *[
            F.min(F.expr(f"({a} * hb + {b}) % {_MINHASH_PRIME}")).alias(f"h{i}")
            for i, (a, b) in enumerate(_minhash_params(k))
        ]
    )


def band_signatures(
    sigs: DataFrame, k: int = N_HASHES, bands: int = N_BANDS
) -> DataFrame:
    """Long-form banded signatures ``(id, band, bh)`` — one row per
    (doc, band) with bh = md5 of the band's minhash slice. This is the
    join key LSH candidates collide on AND the row format a persisted
    near-dup signature index stores (``streaming.neardup_index_stream``):
    probing a new document against the index is an equi-join on
    ``(band, bh)``."""
    rows = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows + j}").cast("string") for j in range(rows)]
        band_cols.append(F.md5(F.concat_ws(",", *parts)).alias(f"b{b}"))
    banded = sigs.select("id", *band_cols)
    return banded.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bh"))
                for b in range(bands)
            ])
        ).alias("e"),
    ).select("id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))


def band_bucket_stats(
    sigs: DataFrame, k: int = N_HASHES, bands: int = N_BANDS, top: int = 20
) -> DataFrame:
    """Band-bucket density audit: the ``top`` largest LSH buckets as
    ``(band, bh, n_docs)`` plus a summary row (band = −1) carrying the
    bucket COUNT in ``n_docs``. Candidate-pair work is
    Σ C(bucket_size, 2) per band, so this histogram is the pre-flight
    check for a near-dup-dense corpus: a 5k-member near-dup family
    shows up as a 5k-deep bucket (≈12.5M pairs) BEFORE the join runs.
    Digest-grain signatures (``minhash_dedup`` stage 0.5) already keep
    byte-identical floods out; genuinely-near-but-distinct floods are
    what this surfaces — handle them with AQE skew-join splitting
    (on by default in ``session.get_spark``) and, above that, the
    ``max_bucket`` cap on :func:`lsh_candidate_pairs`."""
    counts = (
        band_signatures(sigs, k, bands)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    top_rows = counts.orderBy(F.desc("n_docs"), F.asc("band"), F.asc("bh")).limit(top)
    summary = counts.agg(
        F.lit(-1).alias("band"),
        F.lit("TOTAL_BUCKETS").alias("bh"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return top_rows.unionByName(summary)


def band_bucket_stats_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = N_HASHES,
    bands: int = N_BANDS,
    top: int = 20,
) -> str:
    """DuckDB oracle for :func:`band_bucket_stats` over doc-grain
    signatures of ``table`` — same md5 minhash family and banding as
    :func:`minhash_dedup_sql`, so bucket ids and depths are exact.
    (band, bh) is unique per counts row, so the depth-desc/band/bh
    ordering is total and the top-``top`` SET is deterministic in both
    engines."""
    rows = k // bands
    hash_cols = ",\n    ".join(
        f"min(({a} * hb + {b}) % {_MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_params(k))
    )
    band_rows = []
    for b in range(bands):
        parts = " || ',' || ".join(
            f"CAST(h{b * rows + j} AS VARCHAR)" for j in range(rows)
        )
        band_rows.append(f"SELECT id, {b} AS band, md5({parts}) AS bh FROM sigs")
    bands_sql = "\nUNION ALL\n".join(band_rows)
    return f"""
WITH sh AS ({shingles_sql(table, id_col, text_col, n)}),
shb AS (
  SELECT id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS hb FROM sh
),
sigs AS (
  SELECT id,
    {hash_cols}
  FROM shb GROUP BY id
),
bandrows AS (
{bands_sql}
),
counts AS (
  SELECT band, bh, CAST(count(*) AS BIGINT) AS n_docs
  FROM bandrows GROUP BY band, bh
)
SELECT band, bh, n_docs FROM (
  SELECT * FROM counts ORDER BY n_docs DESC, band ASC, bh ASC LIMIT {top}
)
UNION ALL
SELECT -1 AS band, 'TOTAL_BUCKETS' AS bh, CAST(count(*) AS BIGINT) AS n_docs FROM counts
"""


def lsh_candidate_pairs(
    sigs: DataFrame,
    k: int = N_HASHES,
    bands: int = N_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs: docs sharing any band signature → (id_a, id_b).

    ``max_bucket`` is the dense-corpus escape hatch: buckets holding
    more than that many signatures are EXCLUDED from pair generation
    (each contributes C(n, 2) pairs — one 100k-deep bucket is 5·10⁹
    candidates no executor should build). Members of a skipped bucket
    almost always still pair through their other, sparser bands (a
    true near-dup pair collides in every band with prob jaccard^rows);
    production flows that cap buckets should ALSO read
    :func:`band_bucket_stats` and route the capped buckets' members
    through exemplar-based handling. Default None = exact historical
    behavior (the oracle-mirrored contract)."""
    # r13 (§2.3 narrower types): the candidate join carries the band
    # hash as the 16-byte unhex(md5) binary instead of the 32-char hex
    # string — unhex is injective, so bucket membership (and therefore
    # the candidate SET) is bit-identical while the self-join's sort
    # keys and shuffle rows halve. band_bucket_stats keeps the hex
    # spelling (bh is part of its OUTPUT contract); this is join-internal.
    long = band_signatures(sigs, k, bands).select(
        "id", "band", F.unhex(F.col("bh")).alias("bh")
    )
    if max_bucket is not None:
        ok = (
            long.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= max_bucket)
            .select("band", "bh")
        )
        long = long.join(ok, ["band", "bh"], "left_semi")
    a = long.alias("a")
    b = long.alias("b")
    # merge hint: the band self-join is corpus × corpus on (band, bh);
    # Catalyst's static estimate of the signature subtree tracks the
    # (compressed) file size, so at small inputs it broadcasts and at
    # large ones it doesn't — pin the one shape that is correct at
    # every scale (keyed sort-merge, LSH makes band hashes near-uniform)
    return (
        a.join(b.hint("merge"), (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    sh: DataFrame,
    candidates: DataFrame | None = None,
    candidate_hint: str = "shuffle_hash",
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (or all co-shingled
    pairs when ``candidates`` is None — the pure n-gram-Jaccard path).

    ``(id_a, id_b, jaccard)`` with jaccard = |∩| / (|A| + |B| − |∩|),
    an exact integer expression → bit-identical across engines.

    ``candidate_hint`` picks the join strategy for the candidate
    attach joins: ``shuffle_hash`` (default — right for LSH candidate
    sets, which are tiny relative to the corpus) builds a
    per-partition hash map of the pair-grain side; ``merge`` sorts and
    SPILLS, the safe choice when the candidate frame is itself
    corpus-scale (prefix filtering on template-heavy corpora — an sf1
    run OOMed the hash build at 3.1M candidate pairs before this knob).
    """
    if candidates is not None:
        # r13: the candidate verify attaches each document's DISTINCT
        # shingle set as ONE array row and intersects per pair
        # (array_intersect is a hash probe over both sets). The
        # previous shape expanded candidates by id_a's shingles and
        # equi-joined id_b's on (id, shingle) — one row PER SHARED
        # SHINGLE per pair (8.8M rows / 157 MB through the intersection
        # exchange for the prefix path's 125k candidates at sf0.1),
        # then a pair-grain count agg plus TWO more size joins. The
        # array shape is two joins total, no count exchange, no size
        # joins; interleaved A/B: 5.1-11.3 s → 3.0-4.0 s end-to-end on
        # dedup_prefix_jaccard, hash-identical outputs. Per-document
        # arrays are bounded by document length (the same bound as the
        # text itself), and the hint contract is unchanged: the
        # pair-grain side carries the caller's hint, never a static
        # broadcast (the r4 sf10 OOM class).
        arr = sh.groupBy("id").agg(F.collect_list("shingle").alias("_arr"))
        aa = arr.select(F.col("id").alias("id_a"), F.col("_arr").alias("_arr_a"))
        bb = arr.select(F.col("id").alias("id_b"), F.col("_arr").alias("_arr_b"))
        # normalize defensively, exactly like the old pair-grain agg
        # did: only id_a < id_b pairs, one output row per distinct pair
        # (RemoveRedundantAggregates erases this when the caller's
        # frame is already distinct), zero-intersection pairs dropped
        candidates = candidates.where(F.col("id_a") < F.col("id_b")).dropDuplicates(
            ["id_a", "id_b"]
        )
        inter = F.size(F.array_intersect("_arr_a", "_arr_b"))
        return (
            candidates.hint(candidate_hint)
            .join(aa, "id_a")
            .hint(candidate_hint)
            .join(bb, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    inter.cast("double")
                    / (F.size("_arr_a") + F.size("_arr_b") - inter).cast("double")
                ).alias("jaccard"),
                inter.alias("_inter"),
            )
            .where(F.col("_inter") > 0)
            .drop("_inter")
        )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    # merge hint: corpus × corpus self-join on the shingle key —
    # static estimates see only the pre-explode file size and would
    # broadcast one whole exploded side; sort-merge shuffles both
    # sides and spills at any scale (the r4 sf10 OOM class)
    inter = (
        a.join(b.hint("merge"), F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    # estimate-blindness fix: sizes is doc-grain (corpus-sized) — a
    # static broadcast of it is the same OOM in miniature; build on
    # the pair-grain inter side instead
    return (
        inter.hint(candidate_hint)
        .join(sa, "id_a")
        .hint(candidate_hint)
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    k: int = N_HASHES,
    bands: int = N_BANDS,
    expand: str = "pairs",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: collapse to distinct-text
    grain → shingle → sign → band → candidate join → exact-Jaccard
    verify ≥ threshold → expand back to document ids.

    **Digest-grain collapse (stage 0.5).** Everything downstream of the
    first groupBy runs at ``md5(text)`` grain, ONE row per distinct
    text. Without it, N byte-identical documents (boilerplate, mirrored
    pages — every real crawl has them) share every band, so the band
    self-join emits O(N²·bands) candidate rows and the verify join
    re-scores each of them — the one plan in this module that provably
    detonates at crawl scale. At digest grain an identical-text cluster
    contributes exactly one signature; duplicate-pair facts are
    reconstructed afterwards from the (digest → id) index, never through
    the band join. Byte-identical pairs need no verification at all —
    their Jaccard is 1.0 by construction.

    ``expand`` picks the output contract:

    * ``"pairs"`` (default) — every near-dup pair ``(id_a, id_b,
      jaccard)`` with id_a < id_b, the historical contract the DuckDB
      oracle mirrors. Within an identical-text cluster this is all
      C(N,2) pairs (output-sized work: a digest-keyed self-join of the
      narrow id index — nothing quadratic enters the band or verify
      joins).
    * ``"star"`` — a connectivity-equivalent edge set that is O(N) per
      identical-text cluster: (min-id representative → member) star
      edges within each cluster plus one (rep_a, rep_b) edge per
      verified cross-digest pair. Connected components (and therefore
      ``dup_components`` / ``keep_best_exemplar`` / curation keep-sets)
      are identical to the pairs contract, without materializing
      quadratic within-cluster pair lists. Use this for anything that
      only consumes connectivity.

    The shingle set feeds FOUR downstream plans (signatures, per-doc
    sizes, and both sides of the intersection join) and is PERSISTED
    (r13, superseding the r4-era measurement that rejected it at three
    consumers): each re-derivation costs a full explode + distinct
    exchange, and an interleaved same-JVM A/B at sf0.1 measured the
    persisted pipeline at 3.8-4.2 s vs 6.7-10.2 s unpersisted
    (hash-identical outputs). The cached state is the distinct
    (digest, shingle) grain — the same bound as the distinct exchange
    the consumers each re-instantiated; at cluster scale the cache
    spills to disk via MEMORY_AND_DISK, strictly cheaper than three
    extra exchanges of the same rows. The cache belongs to the caller's
    ``materialize.scope()``.

    Scale shape of the collapse itself: the groupBy(digest) shuffle
    carries each DISTINCT body once (map-side partial agg collapses
    same-partition copies), strictly smaller than the per-document
    shingle shuffle it replaces; the (digest, id) index is 32+8 bytes a
    row. Documents with NULL text or fewer than ``n`` tokens produce no
    shingles and therefore no pairs — identical in both contracts and
    in the oracle.
    """
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        # r13 (§2.3): the digest is join-internal — carry the 16-byte
        # unhex(md5) binary, not the 32-char hex string. unhex is
        # injective, so grouping/joining on it is bit-equivalent, and
        # every digest-keyed exchange (groupBy, band join, verify
        # joins, index expansion) ships half the key bytes.
        F.unhex(F.md5(F.col(text_col).cast("binary"))).alias("dg"),
    )
    index = base.select("dg", "id")
    distinct_docs = base.groupBy("dg").agg(F.min("txt").alias("txt"))
    sh = persist(shingles(distinct_docs, "dg", "txt", n))
    sigs = minhash_signatures(sh, k)
    dcands = lsh_candidate_pairs(sigs, k, bands)
    # verified digest-grain near-dup pairs (id_a/id_b are digests here)
    dpairs = jaccard_pairs(sh, dcands).where(F.col("jaccard") >= threshold)
    # digests that actually produced a signature (≥ n tokens): only
    # their identical-text clusters count as near-dup pairs — matching
    # the historical id-grain behavior where shingle-less docs never
    # entered the pipeline
    sig_dgs = sigs.select(F.col("id").alias("dg"))
    if expand == "star":
        reps = index.groupBy("dg").agg(F.min("id").alias("rep"))
        ra = reps.select(F.col("dg").alias("id_a"), F.col("rep").alias("rep_a"))
        rb = reps.select(F.col("dg").alias("id_b"), F.col("rep").alias("rep_b"))
        cross = (
            dpairs.join(ra.hint("merge"), "id_a")
            .join(rb.hint("merge"), "id_b")
            .select(
                F.least("rep_a", "rep_b").alias("id_a"),
                F.greatest("rep_a", "rep_b").alias("id_b"),
                "jaccard",
            )
        )
        # rep = min id per digest, so rep < member always holds
        within = (
            index.join(sig_dgs.hint("merge"), "dg")
            .join(reps.hint("merge"), "dg")
            .where(F.col("id") != F.col("rep"))
            .select(
                F.col("rep").alias("id_a"),
                F.col("id").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
    else:
        ia = index.select(F.col("dg").alias("id_a"), F.col("id").alias("ia"))
        ib = index.select(F.col("dg").alias("id_b"), F.col("id").alias("ib"))
        # each cross-digest id pair arises from exactly one digest pair
        # (an id has one digest), so no post-expansion dedup is needed
        cross = (
            dpairs.join(ia.hint("merge"), "id_a")
            .join(ib.hint("merge"), "id_b")
            .select(
                F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"),
                "jaccard",
            )
        )
        members = index.join(sig_dgs.hint("merge"), "dg")
        wa, wb = members.alias("wa"), members.alias("wb")
        within = (
            wa.join(wb.hint("merge"), "dg")
            .where(F.col("wa.id") < F.col("wb.id"))
            .select(
                F.col("wa.id").alias("id_a"),
                F.col("wb.id").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
    return cross.unionByName(within)


def ngram_jaccard_dedup(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5, n: int = 3
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup via inverted-index join (no LSH
    recall loss; heavier join fan-out — the exact baseline). Shingles
    recompute rather than persist (see :func:`minhash_dedup`)."""
    sh = shingles(df, id_col, text_col, n)
    return jaccard_pairs(sh).where(F.col("jaccard") >= threshold)


def ngram_jaccard_sql(
    table: str, id_col: str, text_col: str, threshold: float = 0.5, n: int = 3
) -> str:
    """DuckDB oracle for :func:`ngram_jaccard_dedup`."""
    return f"""
WITH sh AS ({shingles_sql(table, id_col, text_col, n)}),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= {threshold}
"""


def prefix_filter_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs via PPJoin-style prefix filtering (Chaudhuri et
    al., "A Primitive Operator for Similarity Joins", ICDE 2006; Xiao
    et al., "Efficient Similarity Joins for Near Duplicate Detection",
    WWW 2008 — both public). LOSSLESS for Jaccard ≥ ``threshold``:

    * order every document's shingles by a single global total order
      (corpus document-frequency ascending, shingle ascending — rare
      shingles first, so prefixes index the least-common tokens);
    * index only each document's first ``|s| − ⌈t·|s|⌉ + 1`` shingles:
      two sets with Jaccard ≥ t share ≥ ⌈t·max(|A|,|B|)⌉ elements, so
      their prefixes must intersect (pigeonhole on the shared order);
    * join prefixes instead of full inverted lists, with the length
      filter ``t·|B| ≤ |A| ≤ |B|/t`` (necessary for J ≥ t);
    * PPJoin position filter: a shared prefix token at positions
      ``(px, py)`` bounds the overlap of the FIRST shared token by
      ``1 + min(|A|−px, |B|−py)``; a true pair's first shared token
      always passes ``≥ ⌈t/(1+t)·(|A|+|B|)⌉``, so keeping pairs where
      ANY match passes is lossless while template-heavy corpora (many
      docs sharing mid-frequency shingles DEEP in their prefixes) shed
      most of their candidate volume.

    vs the full inverted-index join (:func:`jaccard_pairs` with no
    candidates): at t = 0.8 only ~20% of each posting list is indexed
    and the quadratic bucket blow-up concentrates in RARE shingles
    (bounded lists) instead of stopword shingles — the standard exact
    set-similarity join for corpus scale. Returns ``(id_a, id_b)``
    candidate pairs (a superset of the true-pair set; verify with
    :func:`jaccard_pairs`).
    """
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    w_id = Window.partitionBy("id")
    w_rank = w_id.orderBy(F.asc("sdf"), F.asc("shingle"))
    # shingle-grain × shingle-grain join: static estimates only see the
    # pre-explode file size (the sf10 OOM class) — force sort-merge
    pref = (
        sh.join(freq.hint("merge"), "shingle")
        .withColumn("sz", F.count(F.lit(1)).over(w_id))
        .withColumn("pos", F.row_number().over(w_rank))
        .where(F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("id", "shingle", "sz", "pos")
    )
    a, b = pref.alias("a"), pref.alias("b")
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
    )
    return (
        a.join(b.hint("merge"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .where(
            (F.col("a.sz").cast("double") >= F.lit(threshold) * F.col("b.sz"))
            & (F.col("b.sz").cast("double") >= F.lit(threshold) * F.col("a.sz"))
            & (
                F.lit(1)
                + F.least(F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos"))
                >= alpha
            )
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def prefix_jaccard_dedup(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5, n: int = 3
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup with PPJoin prefix-filter pruning.

    Output-identical to :func:`ngram_jaccard_dedup` (the prefix filter
    is lossless — see :func:`prefix_filter_pairs`), so it shares that
    operator's DuckDB oracle; only the candidate-generation plan
    differs. Exact-verify then touches candidate pairs only.
    """
    sh = shingles(df, id_col, text_col, n)
    cands = prefix_filter_pairs(sh, threshold)
    # merge, not shuffle_hash: prefix candidates on template-heavy
    # corpora are pair-grain LARGE (sf1 measured 3.1M pre-position-
    # filter) — sort-merge spills where a hash build OOMs
    return jaccard_pairs(sh, cands, candidate_hint="merge").where(
        F.col("jaccard") >= threshold
    )


def shingle_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    n-word shingles that occur in NO other document (corpus document
    frequency 1) — the cheap diversity/memorization audit: boilerplate
    and templated docs score near 0, genuinely novel text near 1
    (complements the dedup family: near-dup pairs say who copies WHOM,
    novelty says how much of each doc is copied from ANYWHERE).

    One shingle pass; corpus DF rides a window partitioned by shingle
    over that frame (never wider than a shingle's posting list), then a
    per-doc hash reduction. Docs shorter than ``n`` tokens have no
    shingles and are absent from the result (the :func:`shingles`
    contract). Returns ``(id, n_shingles, n_novel, novelty)``,
    novelty rounded to 6 dp.
    """
    sh = shingles(df, id_col, text_col, n)
    sdf = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    scored = sh.withColumn("sdf", sdf)
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("sdf") == 1, 1).otherwise(0)).cast("bigint").alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("sdf") == 1, 1.0).otherwise(0.0))
            / F.count(F.lit(1)),
            6,
        ).alias("novelty"),
    )


def shingle_novelty_sql(table: str, id_col: str, text_col: str, n: int = 3) -> str:
    """DuckDB oracle for :func:`shingle_novelty`."""
    return f"""
WITH sh AS ({shingles_sql(table, id_col, text_col, n)}),
scored AS (
  SELECT id, count(*) OVER (PARTITION BY shingle) AS sdf FROM sh
)
SELECT id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN sdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(sum(CASE WHEN sdf = 1 THEN 1.0 ELSE 0.0 END) / count(*), 6) AS novelty
FROM scored GROUP BY id
"""


def minhash_dedup_sql(
    table: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    k: int = N_HASHES,
    bands: int = N_BANDS,
) -> str:
    """DuckDB oracle for :func:`minhash_dedup` — same md5 hash family,
    same banding, same verify."""
    rows = k // bands
    hash_cols = ",\n    ".join(
        f"min(({a} * hb + {b}) % {_MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_params(k))
    )
    band_rows = []
    for b in range(bands):
        parts = " || ',' || ".join(
            f"CAST(h{b * rows + j} AS VARCHAR)" for j in range(rows)
        )
        band_rows.append(f"SELECT id, {b} AS band, md5({parts}) AS bh FROM sigs")
    bands_sql = "\nUNION ALL\n".join(band_rows)
    return f"""
WITH sh AS ({shingles_sql(table, id_col, text_col, n)}),
shb AS (
  SELECT id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS hb FROM sh
),
sigs AS (
  SELECT id,
    {hash_cols}
  FROM shb GROUP BY id
),
bands AS (
{bands_sql}
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT i.id_a, i.id_b,
       CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jaccard
FROM inter i
JOIN cands c ON c.id_a = i.id_a AND c.id_b = i.id_b
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """``bits``-bit SimHash per document: ``(id, simhash)``.

    Token hash = md5-derived 60-bit int; bit j of the fingerprint is 1
    iff the (weighted) sum of ±1 votes over tokens is positive. One
    explode + one groupBy(id) with ``bits`` sum aggregates.

    ``bits`` defaults to the historical 32 and may go up to 60 (the
    token hash width; also keeps ``1 << j`` inside signed BIGINT).
    Width is the corpus-scale lever: banding a 32-bit fingerprint into
    4 bands gives only 2^8 bucket values per band, so bucket occupancy
    — and the band self-join's candidate volume — grows linearly with
    corpus size (the dedup_agreement sf10 row measured exactly that).
    At 56 bits the same 4 bands have 2^14 values: 64× the bucket
    space, same hamming-recall pigeonhole."""
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    t = (
        df.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .select("id", F.explode("toks").alias("tok"))
        .select("id", F.expr(_hash64("tok")).alias("h"))
    )
    votes = t.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {j}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    bit_terms = " + ".join(
        f"(case when v{j} > 0 then cast({1 << j} as bigint) else 0 end)"
        for j in range(bits)
    )
    return votes.select("id", F.expr(bit_terms).alias("simhash"))


def simhash_sql(table: str, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> str:
    vote_cols = ",\n    ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH t AS (
  SELECT {id_col} AS id,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (
    SELECT {id_col},
           unnest(list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS tok
    FROM {table}
  )
),
votes AS (
  SELECT id,
    {vote_cols}
  FROM t GROUP BY id
)
SELECT id, {bit_terms} AS simhash FROM votes
"""


# Recommended ``max_bucket`` for FINGERPRINT-grain band joins
# (simhash_near_dups and the multimodal image/audio/video twins that
# feed it). Fingerprints are 14-bit bands at bits=56, so an organic
# bucket is shallow; a bucket deeper than this means a LOW-SLOPE asset
# flood (near-constant-bit fingerprints — flat images, silence, black
# frames) whose candidate volume is C(depth, 2). 10k deep = 5·10⁷
# pairs from ONE bucket — excise and route those members through
# exemplar handling (they are one perceptual equivalence class).
FP_MAX_BUCKET = 10_000


def fingerprint_band_stats(
    fp: DataFrame,
    n_bands: int = 4,
    bits: int = SIMHASH_BITS,
    top: int = 20,
    fp_col: str = "simhash",
) -> DataFrame:
    """Band-bucket density audit for FINGERPRINT frames — the
    fingerprint-grain twin of :func:`band_bucket_stats` (which audits
    MinHash signatures): the ``top`` deepest ``(band, bv)`` buckets of
    the bit-band join :func:`simhash_near_dups` would run, plus a
    summary row (band = −1, bv = −1) carrying the total bucket count.
    Candidate-pair work is Σ C(depth, 2) per band, so this is the
    pre-flight detector for low-slope asset floods (near-constant
    fingerprints from flat images / silent audio / black frames) —
    run it before an uncapped join on an untrusted corpus, and pass
    ``max_bucket=FP_MAX_BUCKET`` to the join when it fires."""
    width = bits // n_bands
    mask = (1 << width) - 1
    long = fp.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.expr(f"({fp_col} >> {width * b}) & {mask}").alias("bv"),
                )
                for b in range(n_bands)
            ])
        ).alias("e"),
    ).select(F.col("e.band").alias("band"), F.col("e.bv").alias("bv"))
    counts = long.groupBy("band", "bv").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets")
    )
    top_rows = counts.orderBy(F.desc("n_assets"), F.asc("band"), F.asc("bv")).limit(top)
    summary = counts.agg(
        F.lit(-1).alias("band"),
        F.lit(-1).cast("bigint").alias("bv"),
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
    )
    return top_rows.unionByName(summary)


def simhash_near_dups(
    fp: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = SIMHASH_BITS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs from fingerprints via bit-banding.

    The ``bits`` bits split into ``n_bands`` equal bands; pairs equal
    on ≥1 band are candidates (pigeonhole guarantee: every pair with
    hamming ≤ n_bands−1 is generated), then verified with
    ``bit_count(xor) <= max_hamming``. More bands → higher guaranteed
    recall but narrower band values → bigger candidate fan-out at
    scale; 4×8-bit bands is the classic ≤3-hamming setting. At corpus
    scale pass ``bits=56`` fingerprints (see :func:`simhash`) so each
    band carries 14 bits — 64× the bucket space, same recall bound.

    ``max_bucket`` is the fingerprint-grain flood cap (same escape
    hatch as :func:`lsh_candidate_pairs`): band buckets deeper than it
    are EXCISED from pair generation — a low-slope asset flood (flat
    images, silence, black frames: near-constant bits, every member in
    ONE bucket per band) otherwise contributes C(depth, 2) candidates.
    Members of an excised bucket still pair through their other,
    sparser bands; audit with :func:`fingerprint_band_stats` and use
    ``FP_MAX_BUCKET`` as the recommended production default. Default
    None = exact historical behavior (the oracle-mirrored contract).
    """
    width = bits // n_bands
    mask = (1 << width) - 1
    band_exprs = [
        F.expr(f"(simhash >> {width * b}) & {mask}").alias(f"band{b}")
        for b in range(n_bands)
    ]
    banded = fp.select("id", "simhash", *band_exprs)
    long = banded.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bv"))
                for b in range(n_bands)
            ])
        ).alias("e"),
    ).select("id", "simhash", F.col("e.band").alias("band"), F.col("e.bv").alias("bv"))
    if max_bucket is not None:
        ok = (
            long.groupBy("band", "bv")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= max_bucket)
            .select("band", "bv")
        )
        long = long.join(ok, ["band", "bv"], "left_semi")
    a, b = long.alias("a"), long.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bv") == F.col("b.bv")))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# duplicate groups: connected components over candidate pairs
# ---------------------------------------------------------------------------

def dup_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Collapse pairwise near-dup edges ``(id_a, id_b)`` into canonical
    duplicate groups: ``(id, component)`` with component = the minimum
    id reachable from ``id``.

    Min-label propagation WITH pointer jumping: every round a vertex
    adopts the smallest of (its label, its neighbors' labels, its
    LABEL'S label). The extra label-of-label hop doubles the distance
    information travels per round, so convergence is O(log diameter)
    rounds instead of O(diameter) — and since every round is a fixed
    number of driver-scheduled jobs, round count is the dominant
    latency term for the shallow components near-dup graphs produce.
    Each round: the three label sources (own, neighbors', label's
    label) are emitted as ONE unioned message stream and collapsed by
    a single vertex-grain min — one edge join + one label self-join +
    one aggregation, no assembling left joins — all keyed by
    vertex; no driver-side graph. ``localCheckpoint`` truncates the
    iterative lineage so plans stay constant-size, and the convergence
    probe reads the 'old' column carried INSIDE the checkpointed frame
    (no extra join against the previous round).

    Pointer jumping preserves the invariant that a vertex's label is
    always a vertex of its own component, so the unique fixpoint —
    label = min id reachable — is unchanged and the DuckDB oracle
    (recursive CTE computing min reachable vertex) matches exactly.
    Ids keep their native type (string ids order lexicographically —
    same ``min`` in both engines); a run that hasn't converged within
    ``max_iter`` rounds raises instead of silently emitting a
    partially-merged result.
    """
    sym = checkpoint(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b"), F.col("id_a")))
        .distinct(),
        eager=True,
    )  # edges are re-joined every round:
    # materialize once or the upstream pair pipeline re-runs per iteration
    # r13: labels are SEEDED with min(id, min(neighbors)) — exactly the
    # result of one neighbor-propagation round over identity labels,
    # computed in the same vertex-grain aggregation that derived the
    # vertex set before (one groupBy over the checkpointed edges, no
    # extra exchange). The fixpoint — min reachable id — is unchanged
    # (the seed is a reachable vertex ≤ id); star-shaped near-dup
    # graphs then converge one round earlier (measured 3 → 2 rounds on
    # both flagship graphs at sf0.1, hash-identical labels).
    labels = checkpoint(
        sym.groupBy("src").agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("id"), "label")
    )
    converged = False
    for _ in range(max_iter):
        # r12 optimization: the neighbor-label and pointer-jump message
        # streams are unioned and collapsed by ONE vertex-grain min
        # (the old shape aggregated the neighbor stream and left-joined
        # the un-aggregated hop stream separately — one extra exchange
        # and one extra assembling join per round; min(nb ∪ hop) ≡
        # least(nb_min, jump), so the fixpoint — min reachable id — is
        # unchanged). Label values are always vertex ids present in
        # `labels`, so the hop inner join never drops rows.
        nb_msg = sym.join(labels, sym.dst == labels.id).select(
            F.col("src").alias("mid"), F.col("label").alias("mlabel")
        )
        par = labels.select(F.col("id").alias("pid"), F.col("label").alias("plabel"))
        hop_msg = labels.join(par, labels.label == par.pid).select(
            F.col("id").alias("mid"), F.col("plabel").alias("mlabel")
        )
        msg_min = (
            nb_msg.unionByName(hop_msg)
            .groupBy("mid")
            .agg(F.min("mlabel").alias("msg_label"))
        )
        new_labels = checkpoint(
            labels.join(msg_min, labels.id == msg_min.mid, "left").select(
                "id",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("msg_label"), F.col("label")),
                ).alias("label"),
            )
        )
        # r13: the checkpoint is LAZY and the convergence probe is the
        # materializing action — one job per round instead of two (the
        # eager checkpoint job + a separate probe job). The full count
        # (not limit(1)) runs every partition, so the checkpoint
        # completes in this same job; the probe reads the 'old' column
        # carried inside the frame, no join against the previous round.
        changed = new_labels.where("label <> old").count()
        release(labels)
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dup_components did not converge within max_iter={max_iter} rounds; "
            "a component's diameter exceeds the bound — raise max_iter"
        )
    # the last round's checkpoint holds the whole result
    release(sym)
    return labels.select(F.col("id"), F.col("label").alias("component"))


def dup_components_sql(pairs_sql: str) -> str:
    """DuckDB oracle for :func:`dup_components`: min reachable vertex
    via a recursive CTE over the symmetric closure of ``pairs_sql``
    (a query yielding id_a, id_b)."""
    return f"""
WITH RECURSIVE sym AS (
  SELECT CAST(id_a AS BIGINT) AS src, CAST(id_b AS BIGINT) AS dst FROM ({pairs_sql})
  UNION
  SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT) FROM ({pairs_sql})
), reach(v, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT sym.src, reach.r FROM sym JOIN reach ON sym.dst = reach.v
)
SELECT v AS id, min(r) AS component FROM reach GROUP BY v
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word ``n``-gram in
    position order, then from every window of ``window`` consecutive
    hashes select the minimum (rightmost on ties) — the guaranteed-
    density fingerprint set used for plagiarism/near-copy detection.
    Returns ``(id, pos, fp_hash)``, one row per SELECTED position.

    Spark shape: one positioned-shingle explode (map-only), then a
    per-document forward window (partitionBy(id) — bounded by document
    length, never corpus-wide), then a distinct. Hashes are md5-derived
    bigints, so the DuckDB oracle reproduces the selection exactly.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    grams = (
        df.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .where(F.size("toks") >= n)
        .select(
            "id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(toks, i, {n})))"
                )
            ).alias("pos", "shingle"),
        )
        .select(
            "id",
            "pos",
            F.expr(_hash64("shingle")).alias("h"),
        )
    )
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    # rightmost minimum: min over struct(hash asc, -pos asc == pos desc)
    sel = (
        grams.withColumn("_n_in_w", F.count(F.lit(1)).over(w))
        .withColumn("_m", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w))
        .where(F.col("_n_in_w") == window)  # full windows only
        .select("id", (-F.col("_m.np")).alias("pos"), F.col("_m.h").alias("fp_hash"))
        .distinct()
    )
    return sel


def winnow_fingerprints_sql(
    table: str, id_col: str, text_col: str, n: int = 3, window: int = 4
) -> str:
    """DuckDB oracle for :func:`winnow_fingerprints` (same positioned
    grams, same rightmost-min-per-window selection via lexicographic
    ROW minimum)."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {table}
  WHERE len({toks}) >= {n}
),
grams AS (
  SELECT id, i - 1 AS pos,
         ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + {n - 1}), ' ')), 1, 15))::BIGINT AS h
  FROM (SELECT id, toks, unnest(generate_series(1, len(toks) - {n - 1})) AS i FROM base)
),
win AS (
  SELECT id,
         count(*) OVER w AS n_in_w,
         min({{'h': h, 'np': -pos}}) OVER w AS m
  FROM grams
  WINDOW w AS (PARTITION BY id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
)
SELECT DISTINCT id, -(m).np AS pos, (m).h AS fp_hash
FROM win WHERE n_in_w = {window}
"""


def winnow_overlap(
    fps_a: DataFrame, min_shared: int = 2
) -> DataFrame:
    """Near-copy pairs by shared winnow fingerprints: documents sharing
    at least ``min_shared`` DISTINCT fingerprint hashes —
    ``(id_a, id_b, n_shared)``. The join is the inverted-index shape
    (hash-keyed, only co-fingerprinted pairs are ever formed); at
    100 TB the fingerprint frame is the winnowed ~2/(window+1)
    fraction of the gram stream, never the corpus text."""
    d = fps_a.select("id", "fp_hash").distinct()
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b.hint("merge"), F.col("a.fp_hash") == F.col("b.fp_hash"))
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_overlap_sql(
    table: str, id_col: str, text_col: str,
    n: int = 3, window: int = 4, min_shared: int = 2,
) -> str:
    """DuckDB oracle for :func:`winnow_overlap` over the fingerprints
    of ``table``."""
    fps = winnow_fingerprints_sql(table, id_col, text_col, n, window)
    return f"""
WITH fps AS ({fps}),
d AS (SELECT DISTINCT id, fp_hash FROM fps)
SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
FROM d a JOIN d b ON a.fp_hash = b.fp_hash AND a.id < b.id
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# greedy (leader) keep-set — the order-deterministic dedup policy a
# streaming near-dup index maintains incrementally
# ---------------------------------------------------------------------------

def greedy_over_edges(vertices: DataFrame, edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Greedy "leader" selection in ascending vertex order —
    ``(v, kept)`` where ``kept(v) ⇔ no KEPT u < v has an edge to v``
    (the lexicographically-first maximal independent set). This is the
    classic online-dedup admission rule: process items in order, admit
    unless a previously-ADMITTED item is a near-dup. Unlike
    component-collapse (:func:`dup_components` + keep-min), the greedy
    rule never drops an item because of a chain through already-dropped
    intermediaries — and it is exactly what an append-only index
    computes, so a streaming near-dup deduper replays it batch by
    batch.

    ``vertices`` is one column ``v`` (any orderable type); ``edges`` is
    ``(src, dst)`` — orientation is normalized internally. The fixpoint
    is evaluated iteratively: each round resolves every vertex whose
    smaller neighbors are all resolved (kept if none of them is kept),
    one edge join + vertex-grain agg per round with localCheckpoint
    lineage truncation. Round count is bounded by the longest
    ascending dependency chain (near-dup graphs are shallow); raises
    after ``max_iter`` rather than returning a partial answer.
    """
    e = checkpoint(
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("src"),
            F.greatest(F.col("src"), F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct(),
        eager=True,
    )
    # status: null = unresolved, true = kept, false = dropped
    st = checkpoint(
        vertices.select(F.col("v")).distinct().withColumn("kept", F.lit(None).cast("boolean"))
    )
    prev = None
    for _ in range(max_iter):
        # r13: per-round checkpoints are LAZY and this full-count probe
        # is the materializing action — one job per round instead of an
        # eager checkpoint job plus a probe job (the full count, not
        # limit(1), runs every partition so the checkpoint completes
        # inside this job).
        unresolved = st.where(F.col("kept").isNull()).count()
        if prev is not None:
            release(prev)
        if unresolved == 0:
            # the last round's checkpoint holds the whole result
            release(e)
            return st
        src_st = st.select(F.col("v").alias("src"), F.col("kept").alias("src_kept"))
        incoming = (
            e.join(src_st, "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(
                F.max(F.coalesce(F.col("src_kept"), F.lit(False))).alias("any_kept_src"),
                F.max(F.col("src_kept").isNull()).alias("any_unresolved_src"),
            )
        )
        prev = st
        st = checkpoint(
            st.join(incoming, "v", "left").select(
                "v",
                F.when(F.col("kept").isNotNull(), F.col("kept"))
                .when(F.coalesce(F.col("any_kept_src"), F.lit(False)), F.lit(False))
                .when(
                    ~F.coalesce(F.col("any_unresolved_src"), F.lit(False)), F.lit(True)
                )
                .otherwise(F.lit(None).cast("boolean"))
                .alias("kept"),
            )
        )
    raise RuntimeError(
        f"greedy_over_edges did not converge within max_iter={max_iter} rounds; "
        "an ascending dependency chain exceeds the bound — raise max_iter"
    )


def minhash_greedy_keepset(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    k: int = N_HASHES,
    bands: int = N_BANDS,
    max_iter: int = 50,
) -> DataFrame:
    """Greedy min-id-order near-dup keep-set over the MinHash-LSH pair
    graph: ``(id, kept)`` — a document is kept iff NO kept smaller-id
    document near-dups it (jaccard ≥ threshold). The batch twin of the
    streaming persisted-signature deduper
    (``streaming.neardup_index_stream``): running that stream over the
    same corpus in ascending-id batches admits exactly the ids this
    returns kept.

    Runs at digest grain end to end: greedy over digest-rep vertices
    ordered by their min member id (the digest-grain greedy provably
    equals id-grain greedy over the full pair expansion — a non-min
    member always near-dups its own rep at jaccard 1.0, so it is kept
    iff never; a rep inherits exactly its digest's adjacencies), then
    expanded through the (digest → id) index: rep of a kept digest →
    kept, every other member → dropped, and members of shingle-less
    digests (< ``n`` tokens — no signature, no pairs, like the
    all-pairs contract) plus NULL-text docs → kept."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        # binary digest + persisted shingles: same r13 rationale as
        # minhash_dedup (the machinery is shared)
        F.unhex(F.md5(F.col(text_col).cast("binary"))).alias("dg"),
    )
    index = base.where(F.col("txt").isNotNull()).select("dg", "id")
    distinct_docs = base.where(F.col("txt").isNotNull()).groupBy("dg").agg(
        F.min("txt").alias("txt")
    )
    sh = persist(shingles(distinct_docs, "dg", "txt", n))
    sigs = minhash_signatures(sh, k)
    dcands = lsh_candidate_pairs(sigs, k, bands)
    dpairs = jaccard_pairs(sh, dcands).where(F.col("jaccard") >= threshold)
    reps = index.groupBy("dg").agg(F.min("id").alias("rep"))
    ra = reps.select(F.col("dg").alias("id_a"), F.col("rep").alias("rep_a"))
    rb = reps.select(F.col("dg").alias("id_b"), F.col("rep").alias("rep_b"))
    edges = (
        dpairs.join(ra.hint("merge"), "id_a")
        .join(rb.hint("merge"), "id_b")
        .select(F.col("rep_a").alias("src"), F.col("rep_b").alias("dst"))
    )
    sig_dgs = sigs.select(F.col("id").alias("dg"))
    sig_reps = reps.join(sig_dgs, "dg").select(F.col("rep").alias("v"))
    rep_kept = greedy_over_edges(sig_reps, edges, max_iter)
    # expand to ids: member of a SHINGLED digest → kept iff it IS the
    # digest's rep and the rep survived greedy; shingle-less / NULL-text
    # docs have no pairs → kept
    shingled = index.join(sig_dgs, "dg").join(reps, "dg").join(
        rep_kept.select(F.col("v").alias("rep"), F.col("kept").alias("rep_kept")), "rep"
    ).select(
        "id", ((F.col("id") == F.col("rep")) & F.col("rep_kept")).alias("kept")
    )
    rest = df.select(F.col(id_col).alias("id")).join(
        shingled.select("id"), "id", "left_anti"
    ).withColumn("kept", F.lit(True))
    return shingled.unionByName(rest)


def minhash_greedy_keepset_sql(
    table: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    k: int = N_HASHES,
    bands: int = N_BANDS,
) -> str:
    """DuckDB oracle for :func:`minhash_greedy_keepset`. The greedy
    fixpoint is inherently sequential in id order, so the oracle walks
    the (rep-grain, edge-bearing) vertices one per recursion step,
    carrying the kept set as a LIST — O(#edge-bearing distinct texts)
    steps, exact because the digest-grain pair graph reuses the same
    md5 minhash SQL as :func:`minhash_dedup_sql`. Isolated vertices and
    signature-less documents short-circuit to kept outside the
    recursion."""
    toks = f"list_filter(string_split_regex(lower(txt), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
    mh = minhash_dedup_sql("ddocs", "did", "txt", threshold, n, k, bands).strip()
    return f"""
WITH RECURSIVE
base AS MATERIALIZED (
  SELECT {id_col} AS id, {text_col} AS txt, md5({text_col}) AS dg
  FROM {table} WHERE {text_col} IS NOT NULL
),
reps AS MATERIALIZED (SELECT dg, min(id) AS rep FROM base GROUP BY dg),
ddocs AS MATERIALIZED (SELECT dg AS did, min(txt) AS txt FROM base GROUP BY dg),
sh_dgs AS MATERIALIZED (SELECT did AS dg FROM ddocs WHERE len({toks}) >= {n}),
mh AS MATERIALIZED (SELECT * FROM ({mh})),
edges AS MATERIALIZED (
  SELECT DISTINCT least(ra.rep, rb.rep) AS src, greatest(ra.rep, rb.rep) AS dst
  FROM mh JOIN reps ra ON mh.id_a = ra.dg JOIN reps rb ON mh.id_b = rb.dg
),
everts AS MATERIALIZED (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
seq AS MATERIALIZED (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM everts),
g AS (
  SELECT 0 AS rn, CAST([] AS BIGINT[]) AS kept
  UNION ALL
  SELECT g.rn + 1,
         CASE WHEN EXISTS (
             SELECT 1 FROM edges e JOIN seq s ON s.rn = g.rn + 1 AND e.dst = s.v
             WHERE list_contains(g.kept, e.src))
           THEN g.kept
           ELSE list_append(g.kept, (SELECT v FROM seq WHERE rn = g.rn + 1))
         END
  FROM g WHERE g.rn < (SELECT max(rn) FROM seq)
),
kept_reps AS (
  SELECT s.v FROM seq s
  WHERE list_contains((SELECT kept FROM g ORDER BY rn DESC LIMIT 1), s.v)
  UNION
  SELECT r.rep FROM reps r JOIN sh_dgs USING (dg)
  WHERE r.rep NOT IN (SELECT v FROM everts)
),
sh_members AS (
  SELECT b.id, r.rep FROM base b JOIN reps r ON b.dg = r.dg JOIN sh_dgs s ON b.dg = s.dg
)
SELECT id, (id = rep AND rep IN (SELECT v FROM kept_reps)) AS kept FROM sh_members
UNION ALL
SELECT {id_col} AS id, TRUE AS kept FROM {table}
WHERE {id_col} NOT IN (SELECT id FROM sh_members)
"""


# ---------------------------------------------------------------------------
# dedup-collapse policies and append-only (incremental) dedup
# ---------------------------------------------------------------------------

def keep_best_exemplar(components: DataFrame, scores: DataFrame) -> DataFrame:
    """Collapse duplicate components keeping the HIGHEST-SCORED member
    (production dedup keeps the best exemplar, not an arbitrary id):
    ``(component, keeper_id, keeper_score, n_members)``.

    ``components`` is ``(id, component)`` (e.g. :func:`dup_components`
    output), ``scores`` is ``(id, quality)``. One id-keyed join + one
    component-partitioned window; near-dup components are small
    (dozens of members), so no window frame ever grows with the
    corpus. Ties break by id ascending — fully deterministic, so the
    SQL oracle matches exactly."""
    j = components.join(scores, "id")
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("id"))
    return (
        j.withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "component",
            F.col("id").alias("keeper_id"),
            F.col("quality").alias("keeper_score"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


def keep_best_exemplar_sql(components_sql: str, scores_sql: str) -> str:
    """DuckDB oracle for :func:`keep_best_exemplar`. ``components_sql``
    yields (id, component); ``scores_sql`` yields (id, quality)."""
    return f"""
WITH comp AS ({components_sql}),
sc AS ({scores_sql}),
j AS (
  SELECT comp.component, comp.id, sc.quality,
         count(*) OVER (PARTITION BY comp.component) AS n_members,
         row_number() OVER (PARTITION BY comp.component
                            ORDER BY sc.quality DESC, comp.id ASC) AS rn
  FROM comp JOIN sc ON comp.id = sc.id
)
SELECT component, id AS keeper_id, quality AS keeper_score,
       CAST(n_members AS BIGINT) AS n_members
FROM j WHERE rn = 1
"""


def incremental_exact_dedup(
    batch: DataFrame, corpus: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Append-only corpus maintenance: which BATCH rows survive exact
    dedup against the existing corpus? A row survives iff its
    ``md5(text)`` digest (1) does not already exist in the corpus and
    (2) is the first occurrence (min id) within the batch —
    ``(id, text_digest)``.

    Scale shape: the corpus side reduces to its DISTINCT digest index
    (at 100 TB this is the persisted dedup index a daily append job
    maintains — 32 chars/doc, not the corpus), the batch carries only
    (digest, id) through a digest-keyed LEFT ANTI join, and the
    within-batch cut is a digest-grain min. Document bodies never
    shuffle."""
    dig = F.md5(F.col(text_col).cast("binary"))
    idx = corpus.where(F.col(text_col).isNotNull()).select(
        dig.alias("text_digest")
    )
    return incremental_dedup_against_index(batch, idx, id_col, text_col)


def incremental_dedup_against_index(
    batch: DataFrame, index: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """:func:`incremental_exact_dedup` against an already-materialized
    digest index (a frame with a ``text_digest`` column) — the form a
    persisted dedup index uses, where the standing corpus exists only
    as its 32-char digests, never as text."""
    dig = F.md5(F.col(text_col).cast("binary"))
    # NULL text → NULL digest: LEFT ANTI never matches a NULL key (the
    # row would survive) while SQL NOT IN filters it — exclude NULL
    # texts so the contract is engine-portable
    bd = batch.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), dig.alias("text_digest")
    )
    idx = index.select("text_digest").distinct()
    return (
        bd.join(idx, "text_digest", "left_anti")
        .groupBy("text_digest")
        .agg(F.min("id").alias("id"))
        .select("id", "text_digest")
    )


def incremental_exact_dedup_sql(
    batch_sql: str, corpus_sql: str, id_col: str, text_col: str
) -> str:
    """DuckDB oracle for :func:`incremental_exact_dedup`; the two
    arguments are subqueries for the batch and the existing corpus."""
    return f"""
WITH b AS (
  SELECT {id_col} AS id, md5({text_col}) AS text_digest
  FROM ({batch_sql}) WHERE {text_col} IS NOT NULL
),
idx AS (
  SELECT DISTINCT md5({text_col}) AS text_digest
  FROM ({corpus_sql}) WHERE {text_col} IS NOT NULL
)
SELECT min(id) AS id, text_digest
FROM b
WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.text_digest = b.text_digest)
GROUP BY text_digest
"""


def source_overlap_matrix(
    df: DataFrame, group_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Cross-source contamination matrix: Jaccard similarity of the
    DISTINCT word-shingle sets of every source pair —
    ``(group_a, group_b, n_a, n_b, n_shared, jaccard)`` for group_a <
    group_b. The dataset-level audit ("how much does source X repeat
    source Y") that decides whether two crawls can be mixed without
    re-deduplication.

    Scale shape: one explode → distinct (group, shingle) — a hash agg
    at that grain — then a SHINGLE-keyed self-join (inverted index:
    only co-occurring shingles pair up) aggregated to group pairs, and
    a broadcast of the #groups-row per-group set sizes. The corpus
    never moves; the shuffle carries (group, shingle) once. The
    self-join emits up to S² rows per shingle shared by S groups, so
    the operator targets dataset-level audits (tens to hundreds of
    sources); at thousands of groups sharing boilerplate shingles,
    estimate the same matrix from MinHash signatures per group
    instead (minhash_signatures over group-concatenated shingle
    sets)."""
    gs = (
        shingles(df.select(F.col(group_col).alias("grp"), F.col(text_col)), "grp", text_col, n=n)
        .select(F.col("id").alias("grp"), "shingle")
        .distinct()
    )
    sizes = gs.groupBy("grp").agg(F.count(F.lit(1)).alias("n_set"))
    a, b = gs.alias("a"), gs.alias("b")
    shared = (
        a.join(b, "shingle")
        .where(F.col("a.grp") < F.col("b.grp"))
        .groupBy(F.col("a.grp").alias("group_a"), F.col("b.grp").alias("group_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("grp").alias("group_a"), F.col("n_set").alias("n_a"))
    sb = sizes.select(F.col("grp").alias("group_b"), F.col("n_set").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "group_a")
        .join(F.broadcast(sb), "group_b")
        .select(
            "group_a",
            "group_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def source_overlap_matrix_sql(
    table: str, group_col: str, text_col: str, n: int = 3
) -> str:
    """DuckDB oracle for :func:`source_overlap_matrix`."""
    inner = shingles_sql(table, group_col, text_col, n=n)
    return f"""
WITH gs AS (SELECT DISTINCT id AS grp, shingle FROM ({inner})),
sizes AS (SELECT grp, count(*) AS n_set FROM gs GROUP BY grp),
shared AS (
  SELECT a.grp AS group_a, b.grp AS group_b, count(*) AS n_shared
  FROM gs a JOIN gs b ON a.shingle = b.shingle AND a.grp < b.grp
  GROUP BY 1, 2
)
SELECT group_a, group_b,
       CAST(sa.n_set AS BIGINT) AS n_a,
       CAST(sb.n_set AS BIGINT) AS n_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       round(CAST(n_shared AS DOUBLE) / CAST(sa.n_set + sb.n_set - n_shared AS DOUBLE), 6) AS jaccard
FROM shared
JOIN sizes sa ON shared.group_a = sa.grp
JOIN sizes sb ON shared.group_b = sb.grp
"""


def dedup_agreement(
    df: DataFrame,
    id_col: str,
    text_col: str,
    minhash_threshold: float = 0.2,
    max_hamming: int = 3,
    simhash_bits: int = 56,
) -> DataFrame:
    """Agreement matrix between the three dedup families — for every
    method pair, the Jaccard overlap of their detected duplicate-pair
    sets: ``(method_a, method_b, n_a, n_b, n_shared, jaccard)``. This
    is the calibration audit run before choosing a family for a new
    corpus ("does simhash at hamming ≤3 find what minhash at 0.2
    finds?").

    Each family's pair set is computed with its own scale shape
    (digest equi-join / banded LSH / bit-banding); the matrix itself
    is arithmetic over pair-set frames keyed by (id_a, id_b) — the
    method-pair intersection join is keyed on the pair, the 3-row size
    frame broadcasts.

    ``simhash_bits`` defaults to 56 (4×14-bit bands), NOT the
    module-wide 32-bit historical default: a 32-bit fingerprint makes
    hamming≤3 on replica-dense corpora a quadratic clique generator
    (the sf10 audit measured 23.7M candidate pairs and a 12.2×/decade
    superlinear wall from exactly that), while 56 bits gives the same
    4 bands 2^14 values each — 64× the bucket space, identical
    pigeonhole recall bound. Pass 32 to reproduce the legacy matrix.
    """
    dig = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col).cast("binary")).alias("d")
    )
    da, db = dig.alias("da"), dig.alias("db")
    exact = (
        da.join(db, "d")
        .where(F.col("da.id") < F.col("db.id"))
        .select(F.col("da.id").alias("id_a"), F.col("db.id").alias("id_b"))
    )
    mh = minhash_dedup(df, id_col, text_col, threshold=minhash_threshold).select(
        "id_a", "id_b"
    )
    sh = simhash_near_dups(
        simhash(df, id_col, text_col, bits=simhash_bits),
        max_hamming,
        bits=simhash_bits,
    ).select("id_a", "id_b")
    tagged = (
        exact.select(F.lit("exact").alias("method"), "id_a", "id_b")
        .unionByName(mh.select(F.lit("minhash").alias("method"), "id_a", "id_b"))
        .unionByName(sh.select(F.lit("simhash").alias("method"), "id_a", "id_b"))
    )
    # static method list so a family that found ZERO pairs still shows
    # up with n=0 — the audit's most decisive row
    methods = df.sparkSession.createDataFrame(
        [("exact",), ("minhash",), ("simhash",)], "method string"
    )
    sizes = methods.join(
        tagged.groupBy("method").agg(F.count(F.lit(1)).alias("n")), "method", "left"
    ).select("method", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    ta, tb = tagged.alias("ta"), tagged.alias("tb")
    inter = (
        ta.join(tb, ["id_a", "id_b"])
        .where(F.col("ta.method") < F.col("tb.method"))
        .groupBy(
            F.col("ta.method").alias("method_a"), F.col("tb.method").alias("method_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("method").alias("method_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("method").alias("method_b"), F.col("n").alias("n_b"))
    pairs = (
        sa.crossJoin(sb)
        .where(F.col("method_a") < F.col("method_b"))
        .join(inter, ["method_a", "method_b"], "left")
    )
    ns = F.coalesce(F.col("n_shared"), F.lit(0))
    return pairs.select(
        "method_a",
        "method_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        ns.cast("bigint").alias("n_shared"),
        F.round(
            ns.cast("double")
            / F.nullif((F.col("n_a") + F.col("n_b") - ns).cast("double"), F.lit(0.0)),
            6,
        ).alias("jaccard"),
    )


def dedup_agreement_sql(
    table: str,
    id_col: str,
    text_col: str,
    minhash_threshold: float = 0.2,
    max_hamming: int = 3,
    simhash_bits: int = 56,
) -> str:
    """DuckDB oracle for :func:`dedup_agreement` (simhash bands:
    4 × ``simhash_bits``/4-bit, mirroring simhash_near_dups)."""
    mh = minhash_dedup_sql(table, id_col, text_col, threshold=minhash_threshold).strip()
    sh = simhash_sql(table, id_col, text_col, bits=simhash_bits).strip()
    width = simhash_bits // 4
    mask = (1 << width) - 1
    return f"""
WITH exact_pairs AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM {table} a JOIN {table} b
    ON md5(a.{text_col}) = md5(b.{text_col}) AND a.{id_col} < b.{id_col}
  WHERE a.{text_col} IS NOT NULL AND b.{text_col} IS NOT NULL
),
mh_pairs AS (SELECT id_a, id_b FROM ({mh})),
sh_fp AS ({sh}),
sh_long AS (
  SELECT id, simhash, g.b AS band, (simhash >> ({width} * g.b)) & {mask} AS bv
  FROM sh_fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) g
),
sh_pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sh_long a JOIN sh_long b ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
),
tagged AS (
  SELECT 'exact' AS method, id_a, id_b FROM exact_pairs
  UNION ALL SELECT 'minhash', id_a, id_b FROM mh_pairs
  UNION ALL SELECT 'simhash', id_a, id_b FROM sh_pairs
),
sizes AS (
  SELECT m.method, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
  FROM (SELECT unnest(['exact', 'minhash', 'simhash']) AS method) m
  LEFT JOIN (SELECT method, count(*) AS n FROM tagged GROUP BY method) c
    ON m.method = c.method
),
inter AS (
  SELECT ta.method AS method_a, tb.method AS method_b, count(*) AS n_shared
  FROM tagged ta JOIN tagged tb
    ON ta.id_a = tb.id_a AND ta.id_b = tb.id_b AND ta.method < tb.method
  GROUP BY 1, 2
)
SELECT sa.method AS method_a, sb.method AS method_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(COALESCE(i.n_shared, 0) AS BIGINT) AS n_shared,
       round(CAST(COALESCE(i.n_shared, 0) AS DOUBLE)
             / nullif(CAST(sa.n + sb.n - COALESCE(i.n_shared, 0) AS DOUBLE), 0.0), 6) AS jaccard
FROM sizes sa
JOIN sizes sb ON sa.method < sb.method
LEFT JOIN inter i ON i.method_a = sa.method AND i.method_b = sb.method
"""


# ---------------------------------------------------------------------------
# duplicate-span removal (ExactSubstr at n-gram resolution)
# ---------------------------------------------------------------------------

def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 5,
    min_count: int = 2,
    full_digest: bool = False,
) -> DataFrame:
    """Cross-document duplicate-SPAN removal — the ExactSubstr idea
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL'22) at word-``w``-gram resolution: any ``w``-token
    span whose text occurs at least ``min_count`` times ANYWHERE in
    the corpus (other documents or repeats within the same document)
    is excised from every document; surviving tokens are rejoined in
    original order. Unlike whole-doc dedup (exact/minhash) this
    removes the duplicated PASSAGE while keeping the unique remainder
    of each document. Returns ``(id, n_tokens, n_kept,
    cleaned_text)`` — tokens lowercased (the dedup families share the
    lowercase tokenizer). Documents shorter than ``w`` tokens have no
    spans and survive whole; documents with no tokens drop (no rows
    to rebuild from), matching the oracle.

    100 TB shape: gram instances shuffle as 60-bit md5 hashes only
    (never gram text); the duplicated-gram set is the inverted-index
    side of a MERGE join (estimate-blind broadcast of an
    under-estimated explode subtree is the failure mode the sf10
    audit caught on line_dedup — same hint here); coverage expansion
    fans out only duplicated spans (×w); the keep/drop tag is a
    corpus-scale (id, pos) merge join; reassembly is one per-doc
    aggregation. No window functions, no all-pairs anything.

    **Hash-grain false positives.** Duplication is decided on the
    default 60-bit md5 prefix, and a birthday collision marks two
    genuinely DIFFERENT spans as duplicates — both get excised. The
    expected collision count for T distinct grams is ≈ T²/2^61:
    negligible through ~10^8 grams (sf-scale corpora), ~5·10⁵
    colliding gram pairs at T = 10^12 — i.e. roughly 4 excised tokens
    per million at trillion-gram scale, biased toward no particular
    text. Where that loss rate is unacceptable, pass
    ``full_digest=True`` to compare the full 128-bit md5 (collision
    expectation < 10⁻¹² at the same T) at the cost of a 4× wider gram
    shuffle (32-char digests instead of 8-byte ints). The DuckDB
    oracle mirrors whichever grain is chosen, so the oracle cannot
    surface the FP either — this note, not the gate, is the contract.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), toks.alias("toks")
    )
    grams = (
        base.where(F.size("toks") >= w)
        .select(
            "id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {w - 1}),"
                    f" i -> concat_ws(' ', slice(toks, i, {w})))"
                )
            ).alias("gpos", "gram"),
        )
        .select(
            "id",
            "gpos",
            (F.md5(F.col("gram").cast("binary")) if full_digest else F.expr(_hash64("gram"))).alias("h"),
        )
    )
    dup_h = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= min_count)
        .select("h")
    )
    covered = (
        grams.join(dup_h.hint("merge"), "h")
        .select("id", F.explode(F.expr(f"sequence(gpos, gpos + {w - 1})")).alias("tpos"))
        .distinct()
    )
    tokens = base.select("id", F.posexplode("toks").alias("tpos", "tok"))
    tagged = tokens.join(
        covered.withColumn("cov", F.lit(1)).hint("merge"), ["id", "tpos"], "left"
    )
    kept_struct = F.when(
        F.col("cov").isNull(), F.struct(F.col("tpos"), F.col("tok"))
    )
    return tagged.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.count(kept_struct).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["tok"]
            ),
            " ",
        ).alias("cleaned_text"),
    )


def span_dedup_sql(
    table: str,
    id_col: str,
    text_col: str,
    w: int = 5,
    min_count: int = 2,
    full_digest: bool = False,
) -> str:
    """DuckDB oracle for :func:`span_dedup` (same tokenizer, same
    md5-derived gram hash — 60-bit prefix or full 128-bit digest,
    matching the Spark side — same coverage semantics)."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
    gram_text = f"array_to_string(list_slice(toks, i, i + {w - 1}), ' ')"
    gram_hash = (
        f"md5({gram_text})"
        if full_digest
        else f"('0x' || substr(md5({gram_text}), 1, 15))::BIGINT"
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {table}
  WHERE {text_col} IS NOT NULL
),
tok AS (
  SELECT id, i - 1 AS tpos, toks[i] AS tok
  FROM (SELECT id, toks, unnest(generate_series(1, len(toks))) AS i FROM base)
),
grams AS (
  SELECT id, i - 1 AS gpos,
         {gram_hash} AS h
  FROM (SELECT id, toks, unnest(generate_series(1, len(toks) - {w - 1})) AS i
        FROM base WHERE len(toks) >= {w})
),
dup_h AS (
  SELECT h FROM (SELECT h, count(*) AS n_occ FROM grams GROUP BY h)
  WHERE n_occ >= {min_count}
),
cov AS (
  SELECT DISTINCT id, gpos + d AS tpos
  FROM (SELECT g.id, g.gpos FROM grams g JOIN dup_h USING (h)),
       LATERAL (SELECT unnest(generate_series(0, {w - 1})) AS d)
)
SELECT t.id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(CASE WHEN c.tpos IS NULL THEN 1 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN c.tpos IS NULL THEN t.tok END,
                           ' ' ORDER BY t.tpos), '') AS cleaned_text
FROM tok t LEFT JOIN cov c ON t.id = c.id AND t.tpos = c.tpos
GROUP BY t.id
"""


def dup_weights(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Soft dedup: every document kept, repeats DOWNWEIGHTED —
    ``(id, dup_count, weight)`` with weight = 1/n for a text occurring
    n times, so a duplicated document contributes one document's worth
    of loss in total (the data-constrained-LM recipe: repeat data
    rather than drop it, but don't let a 10k-copy boilerplate page
    train like 10k documents). The drop-based alternative is
    :func:`exact_dedup`; both share its digest convention (the shuffle
    carries (id, md5) — bodies never move; NULL texts form one digest
    group, as in exact_dedup's oracle).
    """
    d = df.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col).cast("binary")).alias("_d"),
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("_d"))
    return d.select(
        "id",
        n.cast("bigint").alias("dup_count"),
        F.round(F.lit(1.0) / n, 6).alias("weight"),
    )


def dup_weights_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB oracle for :func:`dup_weights`."""
    return f"""
SELECT {id_col} AS id,
       CAST(count(*) OVER (PARTITION BY md5({text_col})) AS BIGINT) AS dup_count,
       round(1.0 / count(*) OVER (PARTITION BY md5({text_col})), 6) AS weight
FROM {table}
"""
