"""dBoost golden parity: the reference's own fizzbuzz benchmark (D1/D3/D6/D7).

The reference ships ONE deterministic synthetic benchmark for its dBoost
subsystem: ``profiling/dBoost/datasets/synthetic/fizzbuzz.py`` (1,001
tab-separated rows ``num\\tmsg`` with three planted errors at rows
25/28/30) plus the canonical invocations in
``profiling/dBoost/datasets/invocation.md:14-16``:

    dboost-stdin.py --histogram 0.8 0.05 --discretestats 8 2 fizzbuzz
    dboost-stdin.py --partitionedhistogram 5 0.8 0.05 --discretestats 8 2 fizzbuzz

Running the reference pipeline on the regenerated dataset (vendored
bit-exact at ``tests/fixtures/dboost/fizzbuzz.tsv``) yields the golden
outlier cells this module's Spark pipeline must reproduce exactly:

* histogram:            {(25,0),(25,1),(28,1),(30,0),(30,1)}
* partitionedhistogram: {(25,0),(25,1),(28,0),(28,1),(30,0),(30,1)}

(row 28's message 'Woof!' is caught by the per-column message model, so
the reference's "check hints only when no simpler test fired" rule
never reaches the (num,msg) correlation for it under --histogram; the
partitioned model scores ONLY the correlations and so flags both cells.)

Reference semantics re-expressed Spark-first (no driver loops — every
stage is a DataFrame aggregation or broadcast join):

1. **Tuple expansion** (``dboost/features/__init__.py``, registry
   order): ints → [id, nil, unix2date×8, is_weekend, bits 0-5, div 3/5,
   mod 10]; strings → [isupper, islower, istitle, isdigit, len,
   unicode-category signature, (^s)?\\d+→``<num>``, email check, email
   domain, id, empty]; floats → [id, unix2date×8, fracpart]. The five
   Python-semantics string predicates (is*, signature, empty) ride ONE
   Arrow-batched pandas_udf struct; everything else is codegen. The
   expansion melts to (row_id, field_id, feat_id, val, is_null) rows —
   a single explode, linear in #features, no shuffle.
2. **DiscreteStats hints** (``dboost/analyzers/discrete.py:27-55``,
   ``--discretestats 8 2``): feature pairs across distinct fields whose
   joint histogram never exceeds 8 classes. The reference's streaming
   drop-when-over is equivalent to a final distinct-count filter
   (distinct counts only grow), so hints = groupBy(pair) having
   countDistinct(joint) <= 8 over a row_id-keyed self-join.
3. **Histogram model** (``dboost/models/discrete.py:44-92``): per
   feature keep value histograms with <= 16 classes whose top
   max(1,min(3,n//2)) classes carry > peak_s of the mass; a row's
   feature flags when its value's training count < outlier_s × the
   feature's non-null count. Hint features are consulted ONLY for rows
   with no per-field discrepancy (discrete.py:77-88's two-phase check).
4. **PartitionedHistogram** (``dboost/models/discretepart.py:49-90``):
   scores only the hint pairs; per (pair, key) the conditional value
   histogram is kept when 2 <= classes <= 16 and the largest
   consecutive jump of the ascending-sorted counts exceeds
   jmp_threshold with the post-jump mass > peak_s of the total;
   flagged when count(value|key) < outlier_s × count(key).

The fitted model is bounded by construction (kept histograms have <= 16
classes), so scoring joins broadcast it — at 100 TB the fit is one
shuffle per stage over the melted frame and serving stays map-side.

Oracle twins (:func:`fizzbuzz_histogram_oracle_sql`,
:func:`fizzbuzz_parthist_oracle_sql`) restate the identical protocol in
DuckDB SQL over the vendored TSV; value representations only need to be
equality-preserving per engine, so each side picks its own encodings.
ASCII-only caveats (documented, exact on the fixture's alphabet): the
SQL twin derives Python's str.isupper/islower/istitle/isdigit/isspace
and unicodedata categories with ASCII classes, which coincide with
Python's on ASCII text.
"""

from __future__ import annotations

import os
import unicodedata

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import checkpoint

# HTML5 email regex (reference features/__init__.py:57) — Java/RE2
# spelling: named group dropped, the last (?:\.(...)) repetition's
# capture is group 1 in both engines (last-iteration capture).
_EMAIL_RE = (
    r"^[a-zA-Z0-9.!#$%&'*+/=?^_`{|}~-]+@[a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?"
    r"(?:\.([a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?))*$"
)

MAX_HIST_SIZE = 16  # models/discrete.py:9


def fizzbuzz_fixture_path() -> str:
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(os.path.dirname(pkg), "tests", "fixtures", "dboost", "fizzbuzz.tsv")


def load_fizzbuzz(spark: SparkSession) -> DataFrame:
    """The vendored fizzbuzz TSV as (row_id, num, msg).

    ``stream_tuples`` (reference utils/read.py:8-36) infers column
    types from row 0 — "0\\tFizzBuzz" → (int, str). The generator
    writes row i with num == i, so num doubles as the reference's
    outlier line number (utils/printing.py:57 linum).
    """
    df = (
        spark.read.csv(
            fizzbuzz_fixture_path(),
            sep="\t",
            header=False,
            schema="num BIGINT, msg STRING",
        )
    )
    return df.select(F.col("num").alias("row_id"), "num", "msg")


# ---------------------------------------------------------------------------
# Stage 1 — reference-exact tuple expansion, melted
# ---------------------------------------------------------------------------


def _py_string_features_udf():
    """One Arrow-batched struct of the Python-semantics string features
    (reference features/__init__.py:36-50,75-80): the case triple,
    isdigit, the unicodedata category signature, and empty — the five
    predicates whose exact semantics need the Python runtime."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def pyfeats(s):
        def one(v):
            if v is None:
                return (None, None, None, None, None, None)
            return (
                v.isupper(),
                v.islower(),
                v.istitle(),
                v.isdigit(),
                ",".join(unicodedata.category(ch) for ch in v),
                v == "" or v.isspace(),
            )

        rows = [one(v) for v in s]
        return pd.DataFrame(
            rows, columns=["upper", "lower", "title", "isdigit", "sig", "empty"]
        )

    pyfeats.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    return pandas_udf(
        pyfeats,
        "upper boolean, lower boolean, title boolean, isdigit boolean, sig string, empty boolean",
    )


def _int_features(c) -> list:
    """Registry order for int (features/__init__.py:82-88,113-134):
    int_id, int_kill, unix2date(8 parts), is_weekend, bits 0-5,
    div(3,5), mod(10). gmtime parts derived arithmetically (timezone-
    free): days since epoch via floor division, calendar parts from the
    proleptic Gregorian date, wday with Python's Monday=0 convention
    (1970-01-01 was a Thursday = 3)."""
    days = F.expr(f"CAST(FLOOR(`{c}` / 86400.0) AS BIGINT)")
    d = F.expr(f"date_add(DATE'1970-01-01', CAST(FLOOR(`{c}` / 86400.0) AS INT))")
    sid = F.expr(f"pmod(`{c}`, 86400)")
    col = F.col(f"`{c}`")
    feats = [
        col.cast("string"),                                # 0 int_id
        F.lit(None).cast("string"),                        # 1 int_kill → None
        F.year(d).cast("string"),                          # 2 tm_year
        F.month(d).cast("string"),                         # 3 tm_mon
        F.dayofmonth(d).cast("string"),                    # 4 tm_mday
        F.floor(sid / 3600).cast("string"),                # 5 tm_hour
        F.expr(f"pmod(CAST(FLOOR(pmod(`{c}`,86400)/60) AS BIGINT), 60)").cast("string"),  # 6 tm_min
        F.expr(f"pmod(`{c}`, 60)").cast("string"),         # 7 tm_sec
        F.pmod(days + F.lit(3), F.lit(7)).cast("string"),  # 8 tm_wday (Mon=0)
        F.dayofyear(d).cast("string"),                     # 9 tm_yday
        F.pmod(days + F.lit(3), F.lit(7)).isin(5, 6).cast("string"),  # 10 is_weekend
        *[
            F.shiftright(col.cast("long"), b).bitwiseAND(F.lit(1)).cast("string")
            for b in range(6)
        ],                                                 # 11-16 bits 0-5
        (F.pmod(col, F.lit(3)) == 0).cast("string"),       # 17 div 3
        (F.pmod(col, F.lit(5)) == 0).cast("string"),       # 18 div 5
        F.pmod(col, F.lit(10)).cast("string"),             # 19 mod 10
    ]
    return feats


def _string_features(c: str, py: str) -> list:
    """Registry order for str (features/__init__.py:36-80): string_case
    (upper/lower/title), is_digit, length, signature, strp,
    email_checks, email_domain, id, empty. ``py`` is the pandas_udf
    struct column holding the Python-semantics predicates."""
    s = F.col(f"`{c}`")
    check = s.rlike(_EMAIL_RE)
    ext = F.lower(F.regexp_extract(s, _EMAIL_RE, 1))
    return [
        F.col(f"{py}.upper").cast("string"),    # 0
        F.col(f"{py}.lower").cast("string"),    # 1
        F.col(f"{py}.title").cast("string"),    # 2
        F.col(f"{py}.isdigit").cast("string"),  # 3
        F.length(s).cast("string"),             # 4 length
        F.col(f"{py}.sig"),                     # 5 signature
        F.regexp_replace(s, r"(^s)?\d+", "<num>"),  # 6 strp
        check.cast("string"),                   # 7 email check
        F.when(check & (ext != ""), ext).otherwise(F.lit("NONE")),  # 8 email domain
        s,                                      # 9 id
        F.col(f"{py}.empty").cast("string"),    # 10 empty
    ]


def _float_features(c: str) -> list:
    """Registry order for float (features/__init__.py:92-94,117-123):
    float_id, unix2date_float (int() truncates toward zero → BIGINT
    cast), fracpart."""
    col = F.col(f"`{c}`")
    t = F.expr(f"CAST(`{c}` AS BIGINT)")
    days = F.expr(f"CAST(FLOOR(CAST(`{c}` AS BIGINT) / 86400.0) AS BIGINT)")
    d = F.expr(f"date_add(DATE'1970-01-01', CAST(FLOOR(CAST(`{c}` AS BIGINT) / 86400.0) AS INT))")
    sid = F.pmod(t, F.lit(86400))
    return [
        col.cast("string"),                               # 0 float_id
        F.year(d).cast("string"),
        F.month(d).cast("string"),
        F.dayofmonth(d).cast("string"),
        F.floor(sid / 3600).cast("string"),
        F.pmod(F.floor(sid / 60).cast("long"), F.lit(60)).cast("string"),
        F.pmod(t, F.lit(60)).cast("string"),
        F.pmod(days + F.lit(3), F.lit(7)).cast("string"),
        F.dayofyear(d).cast("string"),                    # 1-8 unix2date_float
        (col - t.cast("double")).cast("string"),          # 9 fracpart
    ]


def _feature_exprs(
    df: DataFrame, row_id_col: str
) -> tuple[DataFrame, list[tuple[int, int, "F.Column"]]]:
    """(frame with the Arrow string-feature structs attached,
    [(field_id, feat_id, value Column)] in registry order)."""
    from pyspark.sql import types as T

    fields = [f for f in df.schema.fields if f.name != row_id_col]
    # Python-semantics string features in one pass
    py_cols = {}
    with_py = df
    for i, f in enumerate(fields):
        if isinstance(f.dataType, T.StringType):
            py = f"__py_{i}"
            with_py = with_py.withColumn(py, _py_string_features_udf()(F.col(f"`{f.name}`")))
            py_cols[f.name] = py

    out: list[tuple[int, int, F.Column]] = []
    for field_id, f in enumerate(fields):
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            feats = _int_features(f.name)
        elif isinstance(f.dataType, T.StringType):
            feats = _string_features(f.name, py_cols[f.name])
        elif isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            feats = _float_features(f.name)
        else:  # unsupported types carry no reference rules
            continue
        for feat_id, v in enumerate(feats):
            out.append((field_id, feat_id, v))
    return with_py, out


def reference_melt(df: DataFrame, row_id_col: str = "row_id") -> DataFrame:
    """(row_id, field_id, feat_id, val, is_null) — the expanded tuple
    stream of dboost/__init__.py:7-13 as ONE explode. field_id is the
    0-based original column position (the reference's pre-hint field
    id, which is also the output column id)."""
    with_py, feats = _feature_exprs(df, row_id_col)
    structs = [
        F.struct(
            F.lit(field_id).alias("field_id"),
            F.lit(feat_id).alias("feat_id"),
            F.coalesce(v, F.lit("")).alias("val"),
            v.isNull().alias("is_null"),
        )
        for field_id, feat_id, v in feats
    ]
    return with_py.select(
        F.col(f"`{row_id_col}`").alias("row_id"), F.explode(F.array(*structs)).alias("f")
    ).select("row_id", "f.field_id", "f.feat_id", "f.val", "f.is_null")


# ---------------------------------------------------------------------------
# Stage 2 — DiscreteStats hints (fundep_size=2)
# ---------------------------------------------------------------------------


def hint_pairs(
    df: DataFrame,
    max_buckets: int = 8,
    row_id_col: str = "row_id",
    feats: DataFrame | None = None,
) -> DataFrame:
    """Joint-value rows of the kept correlation hints: the melted
    feature stream self-joined on row_id across distinct fields.

    Plan-shape note (r12): a map-side product-of-features projection
    (one explode over F_a x F_b pair structs, no join) was built and
    measured — it removes the keyed shuffle but its plan is O(F²)
    expression trees (Catalyst's CollapseProject re-inlines any
    staging projection), tripling analysis time at 2 columns and
    becoming unanalyzable for wide schemas. The keyed self-join keeps
    the plan O(F) and the shuffle linear in rows — the shape that
    scales in BOTH rows and schema width. Pairs whose joint histogram
    exceeds max_buckets classes are dropped (analyzers/
    discrete.py:44-52; the streaming drop is monotone, so the final
    distinct count decides membership) via a bounded groupBy +
    broadcast semi-join.

    ``feats`` lets the caller pass an (ideally persisted) pre-melted
    frame so the Arrow-batched expansion is not re-derived here — see
    :func:`histogram_outlier_cells`."""
    if feats is None:
        feats = reference_melt(df, row_id_col)
    a = feats.select(
        "row_id",
        F.col("field_id").alias("af"),
        F.col("feat_id").alias("ai"),
        F.col("val").alias("av"),
        F.col("is_null").alias("an"),
    )
    b = feats.select(
        "row_id",
        F.col("field_id").alias("bf"),
        F.col("feat_id").alias("bi"),
        F.col("val").alias("bv"),
        F.col("is_null").alias("bn"),
    )
    pairs = a.join(b, "row_id").filter(F.col("af") < F.col("bf"))
    kept = (
        pairs.groupBy("af", "ai", "bf", "bi")
        .agg(F.countDistinct(F.struct("av", "an", "bv", "bn")).alias("nd"))
        .filter(F.col("nd") <= max_buckets)
        .select("af", "ai", "bf", "bi")
    )
    return pairs.join(F.broadcast(kept), ["af", "ai", "bf", "bi"])


# ---------------------------------------------------------------------------
# Stage 3 — Histogram model (fit = aggregation, serve = broadcast join)
# ---------------------------------------------------------------------------


def _histogram_model(units: DataFrame, keys: list[str], peak_s: float) -> DataFrame:
    """Fitted per-feature value counts for kept+peaked features:
    (keys..., val-cols..., c, sz). ``units`` must have the key columns,
    ``val``/``is_null`` value columns and one row per (row, feature).

    Kept: final distinct count <= 16 (models/discrete.py:35-39).
    Peaked: top max(1, min(3, n//2)) class mass > peak_s × total
    (discrete.py:41-52) — total includes None-class counts; sz (the
    scoring denominator) counts only non-null values (fit_one's
    not_null sizes, discrete.py:66)."""
    vc = units.groupBy(*keys, "val", "is_null").agg(F.count(F.lit(1)).alias("c"))
    fs = vc.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("c").alias("total"),
        F.coalesce(F.sum(F.when(~F.col("is_null"), F.col("c"))), F.lit(0)).alias("sz"),
    ).filter(F.col("nd") <= MAX_HIST_SIZE)
    hist = (
        vc.join(F.broadcast(fs), keys)
        .groupBy(*keys, "nd", "total", "sz")
        .agg(F.reverse(F.sort_array(F.collect_list("c"))).alias("ys"))
    )
    peaked = (
        hist.withColumn(
            "nb", F.greatest(F.lit(1), F.least(F.lit(3), (F.col("nd") / 2).cast("int")))
        )
        .withColumn("peak_w", F.expr("aggregate(slice(ys, 1, nb), 0L, (acc, x) -> acc + x)"))
        .filter(F.col("peak_w") > F.lit(peak_s) * F.col("total"))
        .select(*keys, "sz")
    )
    return vc.join(F.broadcast(peaked), keys).select(*keys, "val", "is_null", "c", "sz")


def _score(units: DataFrame, model: DataFrame, keys: list[str], outlier_s: float) -> DataFrame:
    """Rows whose feature value was rare in training:
    count < outlier_s × sz (models/discrete.py:71-75)."""
    return units.join(F.broadcast(model), keys + ["val", "is_null"]).filter(
        F.col("c") < F.lit(outlier_s) * F.col("sz")
    )


def histogram_outlier_cells(
    df: DataFrame,
    peak_s: float = 0.8,
    outlier_s: float = 0.05,
    max_buckets: int = 8,
    row_id_col: str = "row_id",
) -> DataFrame:
    """--histogram peak_s outlier_s --discretestats max_buckets 2:
    distinct flagged (row_id, column_id) cells. Per-field features flag
    directly; correlation hints are consulted only for rows with no
    per-field discrepancy and flag BOTH participating columns
    (models/discrete.py:77-88 + utils/printing.py:15-23 expand_hints).

    Plan-shape note (r12 optimization): the melted expansion (which
    carries the Arrow-batched Python string features) feeds the model
    fit, the scoring pass, BOTH sides of the hint self-join and the
    hint model/score chain — lazily each consumer re-derived it, so the
    executed plan held ~24 ArrowEvalPython nodes for ONE expansion.
    Materializing the thin melted frame (rows × features, no payloads)
    runs the Python boundary once (guide §4: cross it once, with only
    the needed columns); likewise the joint hint-pair frame, which
    feeds its own fit + two scoring consumers. localCheckpoint rather
    than persist (r12): with persist every consumer still re-analyzes
    the Arrow-expansion lineage; the checkpoint truncates it (~15%
    off the pair's wall, interleaved A/B) — lineage fault tolerance is
    moot for the fixed golden fixture."""
    feats = checkpoint(reference_melt(df, row_id_col), eager=True)
    fkeys = ["field_id", "feat_id"]
    model1 = _histogram_model(feats, fkeys, peak_s)
    flags1 = _score(feats, model1, fkeys, outlier_s).select(
        "row_id", F.col("field_id").alias("column_id")
    )

    hp = checkpoint(hint_pairs(df, max_buckets, row_id_col, feats=feats), eager=True)
    hunits = hp.select(
        "row_id", "af", "ai", "bf", "bi",
        F.concat_ws(
            "\x1f", "av", F.col("an").cast("string"), "bv", F.col("bn").cast("string")
        ).alias("val"),
        F.lit(False).alias("is_null"),  # joint tuples are never None
    )
    hkeys = ["af", "ai", "bf", "bi"]
    model0 = _histogram_model(hunits, hkeys, peak_s)
    clean = hunits.join(flags1.select("row_id").distinct(), "row_id", "left_anti")
    flags0 = (
        _score(clean, model0, hkeys, outlier_s)
        .select("row_id", F.explode(F.array("af", "bf")).alias("column_id"))
    )
    return flags1.unionByName(flags0).distinct()


# ---------------------------------------------------------------------------
# Stage 4 — PartitionedHistogram model (D7)
# ---------------------------------------------------------------------------


def parthist_outlier_cells(
    df: DataFrame,
    jmp_s: float = 5.0,
    peak_s: float = 0.8,
    outlier_s: float = 0.05,
    max_buckets: int = 8,
    row_id_col: str = "row_id",
) -> DataFrame:
    """--partitionedhistogram jmp_s peak_s outlier_s --discretestats
    max_buckets 2: distinct flagged (row_id, column_id) cells. Scores
    ONLY the correlation hints (models/discretepart.py:83-87): per
    (pair, key=left value) the conditional histogram of the right value
    is kept when 2 <= classes <= 16 and PeakProps finds a consecutive
    ascending-sorted jump > jmp_s whose post-jump mass > peak_s of the
    key's total (discretepart.py:50-67); a cell flags when
    count(value|key) < outlier_s × count(key).

    The melted expansion and the joint hint-pair frame are persisted
    for the same reason as :func:`histogram_outlier_cells` — each has
    several lazy consumers that would re-derive the Arrow expansion."""
    feats = checkpoint(reference_melt(df, row_id_col), eager=True)
    hp = checkpoint(hint_pairs(df, max_buckets, row_id_col, feats=feats), eager=True)
    keys = ["af", "ai", "bf", "bi", "av", "an"]  # pair + partition key
    hp = hp.withColumn(
        "v", F.concat_ws("\x1f", "bv", F.col("bn").cast("string"))
    )
    vc = hp.groupBy(*keys, "v").agg(F.count(F.lit(1)).alias("c"))
    hist = vc.groupBy(*keys).agg(
        F.sort_array(F.collect_list("c")).alias("ys"),
        F.count(F.lit(1)).alias("nd"),
        F.sum("c").alias("total"),
    ).filter((F.col("nd") >= 2) & (F.col("nd") <= MAX_HIST_SIZE))
    # PeakProps (discretepart.py:49-52): max over consecutive pairs of
    # (ys[i+1]/ys[i], ys[i+1], ys[i], i+1) — Python tuple max is the
    # lexicographic struct max.
    peaked = (
        hist.withColumn(
            "best",
            F.expr(
                "array_max(transform(sequence(1, nd - 1), "
                "i -> struct(ys[i] / ys[i-1] AS delta, ys[i] AS hi, ys[i-1] AS lo, i AS ih)))"
            ),
        )
        .withColumn(
            "sum_hi",
            F.expr("aggregate(slice(ys, best.ih + 1, nd), 0L, (acc, x) -> acc + x)"),
        )
        .filter(
            (F.col("best.delta") > F.lit(jmp_s))
            & (F.col("sum_hi") > F.lit(peak_s) * F.col("total"))
        )
        .select(*keys, F.col("total").alias("sz"))
    )
    model = vc.join(F.broadcast(peaked), keys).select(*keys, "v", "c", "sz")
    flagged = hp.join(F.broadcast(model), keys + ["v"]).filter(
        F.col("c") < F.lit(outlier_s) * F.col("sz")
    )
    return flagged.select(
        "row_id", F.explode(F.array("af", "bf")).alias("column_id")
    ).distinct()


# ---------------------------------------------------------------------------
# Registered golden queries + DuckDB oracle twins
# ---------------------------------------------------------------------------


def fizzbuzz_histogram_golden(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """dboost_fizzbuzz_golden: the reference's --histogram 0.8 0.05
    --discretestats 8 2 run on its own synthetic benchmark. sf_dir
    unused (fixture-scoped)."""
    df = load_fizzbuzz(spark)
    cells = histogram_outlier_cells(df)
    return (
        cells.join(df, "row_id")
        .select(
            F.col("row_id").cast("long").alias("row_id"),
            F.col("column_id").cast("int").alias("column_id"),
            F.col("num").cast("long").alias("num"),
            "msg",
        )
        .orderBy("row_id", "column_id")
    )


def fizzbuzz_parthist_golden(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """dboost_fizzbuzz_parthist_golden: --partitionedhistogram 5 0.8
    0.05 --discretestats 8 2 on the same benchmark. sf_dir unused."""
    df = load_fizzbuzz(spark)
    cells = parthist_outlier_cells(df)
    return (
        cells.join(df, "row_id")
        .select(
            F.col("row_id").cast("long").alias("row_id"),
            F.col("column_id").cast("int").alias("column_id"),
            F.col("num").cast("long").alias("num"),
            "msg",
        )
        .orderBy("row_id", "column_id")
    )


def _ascii_category_case(var: str) -> str:
    """DuckDB CASE mapping one ASCII char to its unicodedata category
    (exact for the printable-ASCII + tab alphabet; generated from
    Python's unicodedata so the table can't drift)."""
    special: dict[str, str] = {}
    for code in list(range(32, 127)) + [9]:
        ch = chr(code)
        cat = unicodedata.category(ch)
        if ch.isupper() or ch.islower() or ch.isdigit():
            continue  # covered by the range branches
        special[ch] = cat
    # group by category for a compact IN-list CASE
    by_cat: dict[str, list[str]] = {}
    for ch, cat in special.items():
        by_cat.setdefault(cat, []).append(ch)
    branches = [
        f"WHEN {var} BETWEEN 'A' AND 'Z' THEN 'Lu'",
        f"WHEN {var} BETWEEN 'a' AND 'z' THEN 'Ll'",
        f"WHEN {var} BETWEEN '0' AND '9' THEN 'Nd'",
    ]
    for cat in sorted(by_cat):
        chs = ", ".join("'" + c.replace("'", "''") + "'" for c in sorted(by_cat[cat]))
        branches.append(f"WHEN {var} IN ({chs}) THEN '{cat}'")
    return "CASE " + " ".join(branches) + " ELSE 'Cn' END"


def _sql_str_exprs(col: str) -> dict[str, str]:
    """DuckDB expressions for the string features (ASCII-exact Python
    semantics; see module docstring)."""
    email = _EMAIL_RE.replace("'", "''")
    sig_case = _ascii_category_case(f"substr({col}, i, 1)")
    return {
        "upper": f"(regexp_matches({col}, '[A-Za-z]') AND NOT regexp_matches({col}, '[a-z]'))",
        "lower": f"(regexp_matches({col}, '[A-Za-z]') AND NOT regexp_matches({col}, '[A-Z]'))",
        "title": (
            f"(regexp_matches({col}, '[A-Za-z]') AND NOT regexp_matches({col}, '[A-Za-z][A-Z]')"
            f" AND NOT regexp_matches({col}, '(^|[^A-Za-z])[a-z]'))"
        ),
        "isdigit": f"regexp_matches({col}, '^[0-9]+$')",
        "length": f"length({col})",
        "sig": (
            f"array_to_string(list_transform(range(1, length({col}) + 1), "
            f"i -> {sig_case}), ',')"
        ),
        "strp": f"regexp_replace({col}, '(^s)?[0-9]+', '<num>', 'g')",
        "email_check": f"regexp_matches({col}, '{email}')",
        "email_domain": (
            f"CASE WHEN regexp_matches({col}, '{email}') AND regexp_extract({col}, '{email}', 1) <> '' "
            f"THEN lower(regexp_extract({col}, '{email}', 1)) ELSE 'NONE' END"
        ),
        "id": col,
        "empty": f"({col} = '' OR regexp_matches({col}, '^[ \\t\\n\\r\\f\\v]+$'))",
    }


def _fizzbuzz_feats_sql() -> str:
    """Shared CTE prefix: raw + the melted feature stream + hint pairs,
    mirroring reference_melt/hint_pairs in DuckDB (UNION ALL branches —
    one per (field_id, feat_id) in registry order)."""
    path = fizzbuzz_fixture_path()
    s = _sql_str_exprs("msg")
    int_branches = [
        ("0", "CAST(num AS VARCHAR)", "false"),
        ("1", "''", "true"),
        ("2", "CAST(year(d) AS VARCHAR)", "false"),
        ("3", "CAST(month(d) AS VARCHAR)", "false"),
        ("4", "CAST(day(d) AS VARCHAR)", "false"),
        ("5", "CAST(sid // 3600 AS VARCHAR)", "false"),
        ("6", "CAST((sid // 60) % 60 AS VARCHAR)", "false"),
        ("7", "CAST(sid % 60 AS VARCHAR)", "false"),
        ("8", "CAST(wday AS VARCHAR)", "false"),
        ("9", "CAST(dayofyear(d) AS VARCHAR)", "false"),
        ("10", "CAST(wday IN (5, 6) AS VARCHAR)", "false"),
        *[(str(11 + b), f"CAST((num >> {b}) & 1 AS VARCHAR)", "false") for b in range(6)],
        ("17", "CAST(num % 3 = 0 AS VARCHAR)", "false"),
        ("18", "CAST(num % 5 = 0 AS VARCHAR)", "false"),
        ("19", "CAST(num % 10 AS VARCHAR)", "false"),
    ]
    str_branches = [
        ("0", f"CAST({s['upper']} AS VARCHAR)", "false"),
        ("1", f"CAST({s['lower']} AS VARCHAR)", "false"),
        ("2", f"CAST({s['title']} AS VARCHAR)", "false"),
        ("3", f"CAST({s['isdigit']} AS VARCHAR)", "false"),
        ("4", f"CAST({s['length']} AS VARCHAR)", "false"),
        ("5", s["sig"], "false"),
        ("6", s["strp"], "false"),
        ("7", f"CAST({s['email_check']} AS VARCHAR)", "false"),
        ("8", s["email_domain"], "false"),
        ("9", s["id"], "false"),
        ("10", f"CAST({s['empty']} AS VARCHAR)", "false"),
    ]
    branches = [
        f"SELECT row_id, 0 AS field_id, {fid} AS feat_id, {val} AS val, {nul} AS is_null FROM raw"
        for fid, val, nul in int_branches
    ] + [
        f"SELECT row_id, 1 AS field_id, {fid} AS feat_id, {val} AS val, {nul} AS is_null FROM raw"
        for fid, val, nul in str_branches
    ]
    return f"""
WITH raw AS (
  SELECT num, msg, num AS row_id,
         DATE '1970-01-01' + CAST(CAST(FLOOR(num / 86400.0) AS BIGINT) AS INT) AS d,
         ((num % 86400) + 86400) % 86400 AS sid,
         ((CAST(FLOOR(num / 86400.0) AS BIGINT) % 7) + 7 + 3) % 7 AS wday
  FROM read_csv('{path}', delim='\t', header=false,
                columns={{'num': 'BIGINT', 'msg': 'VARCHAR'}})
),
feats AS (
  {" UNION ALL ".join(branches)}
),
pairs AS (
  SELECT a.row_id, a.feat_id AS ai, b.feat_id AS bi,
         a.val AS av, a.is_null AS an, b.val AS bv, b.is_null AS bn
  FROM feats a JOIN feats b ON a.row_id = b.row_id AND a.field_id = 0 AND b.field_id = 1
),
kept AS (
  SELECT ai, bi FROM pairs GROUP BY ai, bi
  HAVING count(DISTINCT struct_pack(av := av, an := an, bv := bv, bn := bn)) <= 8
),
hp AS (SELECT p.* FROM pairs p JOIN kept USING (ai, bi))
"""


def fizzbuzz_histogram_oracle_sql() -> str:
    return (
        _fizzbuzz_feats_sql()
        + """
, vc AS (SELECT field_id, feat_id, val, is_null, count(*) AS c FROM feats GROUP BY ALL),
fs AS (
  SELECT field_id, feat_id, count(*) AS nd, sum(c) AS total,
         coalesce(sum(c) FILTER (WHERE NOT is_null), 0) AS sz
  FROM vc GROUP BY field_id, feat_id
),
rk AS (
  SELECT v.*, fs.nd, fs.total, fs.sz,
         row_number() OVER (PARTITION BY v.field_id, v.feat_id ORDER BY v.c DESC) AS rn
  FROM vc v JOIN fs USING (field_id, feat_id) WHERE fs.nd <= 16
),
pk AS (
  SELECT field_id, feat_id, sz FROM rk
  GROUP BY field_id, feat_id, total, nd, sz
  HAVING sum(c) FILTER (WHERE rn <= greatest(1, least(3, nd // 2))) > 0.8 * total
),
f1 AS (
  SELECT f.row_id, f.field_id AS column_id
  FROM feats f
  JOIN vc USING (field_id, feat_id, val, is_null)
  JOIN pk USING (field_id, feat_id)
  WHERE vc.c < 0.05 * pk.sz
),
hvc AS (SELECT ai, bi, av, an, bv, bn, count(*) AS c FROM hp GROUP BY ALL),
hfs AS (SELECT ai, bi, count(*) AS nd, sum(c) AS total FROM hvc GROUP BY ai, bi),
hrk AS (
  SELECT h.*, hfs.nd, hfs.total,
         row_number() OVER (PARTITION BY h.ai, h.bi ORDER BY h.c DESC) AS rn
  FROM hvc h JOIN hfs USING (ai, bi) WHERE hfs.nd <= 16
),
hpk AS (
  SELECT ai, bi, total AS sz FROM hrk
  GROUP BY ai, bi, total, nd
  HAVING sum(c) FILTER (WHERE rn <= greatest(1, least(3, nd // 2))) > 0.8 * total
),
f0 AS (
  SELECT h.row_id, unnest([0, 1]) AS column_id
  FROM hp h
  JOIN hvc USING (ai, bi, av, an, bv, bn)
  JOIN hpk USING (ai, bi)
  WHERE hvc.c < 0.05 * hpk.sz
    AND h.row_id NOT IN (SELECT row_id FROM f1)
)
SELECT DISTINCT CAST(o.row_id AS BIGINT) AS row_id, CAST(o.column_id AS INT) AS column_id,
       CAST(r.num AS BIGINT) AS num, r.msg AS msg
FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f0) o
JOIN raw r USING (row_id)
ORDER BY row_id, column_id
"""
    )


def fizzbuzz_parthist_oracle_sql() -> str:
    return (
        _fizzbuzz_feats_sql()
        + """
, pvc AS (SELECT ai, bi, av, an, bv, bn, count(*) AS c FROM hp GROUP BY ALL),
pn AS (SELECT ai, bi, av, an, count(*) AS nd, sum(c) AS total FROM pvc GROUP BY ALL),
prk AS (
  SELECT p.*, pn.nd, pn.total,
         row_number() OVER (PARTITION BY p.ai, p.bi, p.av, p.an ORDER BY p.c ASC) AS rn,
         lead(p.c) OVER (PARTITION BY p.ai, p.bi, p.av, p.an ORDER BY p.c ASC) AS nxt
  FROM pvc p JOIN pn USING (ai, bi, av, an)
  WHERE pn.nd BETWEEN 2 AND 16
),
pbest AS (
  SELECT ai, bi, av, an,
         max(struct_pack(delta := nxt * 1.0 / c, hi := nxt, lo := c, ih := rn))
             FILTER (WHERE nxt IS NOT NULL) AS best,
         max(total) AS total
  FROM prk GROUP BY ai, bi, av, an
),
ppk AS (
  SELECT p.ai, p.bi, p.av, p.an, b.total AS sz
  FROM prk p JOIN pbest b USING (ai, bi, av, an)
  GROUP BY p.ai, p.bi, p.av, p.an, b.total, b.best
  HAVING b.best.delta > 5.0
     AND sum(p.c) FILTER (WHERE p.rn > b.best.ih) > 0.8 * b.total
),
f0 AS (
  SELECT h.row_id, unnest([0, 1]) AS column_id
  FROM hp h
  JOIN pvc USING (ai, bi, av, an, bv, bn)
  JOIN ppk USING (ai, bi, av, an)
  WHERE pvc.c < 0.05 * ppk.sz
)
SELECT DISTINCT CAST(o.row_id AS BIGINT) AS row_id, CAST(o.column_id AS INT) AS column_id,
       CAST(r.num AS BIGINT) AS num, r.msg AS msg
FROM f0 o JOIN raw r USING (row_id)
ORDER BY row_id, column_id
"""
    )
