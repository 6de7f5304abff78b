"""Text analysis operators for training-data pipelines.

Language-ID (stopword/charset heuristic), quality scoring, token
counting, and document fingerprinting — all as builtin-function
expressions over the ``documents`` table, each with an exactly-matching
DuckDB oracle builder.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import persist

# Tiny deterministic stopword marker sets per language — heuristic
# language ID (the reference has no lang-id; this is the pipeline
# extension). Marker words chosen to be disjoint across languages.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "with", "for", "that"),
    "es": ("el", "la", "los", "las", "es", "y", "de", "que", "con", "por"),
    "de": ("der", "die", "das", "und", "ist", "mit", "für", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "avec", "pour", "que", "dans", "un"),
}
CJK_RE = r"[一-鿿]"


def token_count(
    df: DataFrame, id_col: str, text_col: str, tokenizer_fn=None
) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate.

    By default the subword estimate counts runs of letters/digits/
    punctuation (a deterministic proxy for BPE token counts, documented
    as such; RE2-safe — no lookarounds — so DuckDB computes the same
    number). Pass ``tokenizer_fn`` (``ops.tokenize.TokenizerFn``) to
    make ``n_subwords`` REAL tokenizer counts through one Arrow-batched
    pandas_udf — the production seam for budget accounting.
    """
    from datalakerulegeneration_spark.ops.tokenize import token_count_col

    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    return df.select(
        F.col(id_col).alias("id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        token_count_col(text_col, tokenizer_fn).alias("n_subwords"),
    )


def token_count_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
SELECT {id_col} AS id,
       len(list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) AS n_tokens,
       len(regexp_extract_all({text_col}, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS n_subwords
FROM {table}
"""


def language_pred_col(text_col: str) -> Column:
    """The per-row language-ID expression over ``text_col`` — the
    whole heuristic is row-local, so callers that only need to FILTER
    by predicted language can apply this directly instead of joining
    against :func:`language_id`'s (id, lang_pred) frame (r12: the ccnet
    curate chain saved one join stage this way; filter ≡ inner join on
    a unique id)."""
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    cjk_chars = F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", ""))

    # r12 (2nd session): the original formulation chained
    # when(sc_i > best, ...) accumulators, which DUPLICATES every
    # score subexpression down the chain — and Spark skips common
    # subexpression elimination inside conditional branches, so each
    # duplicated occurrence re-evaluated the whole tokenizer split
    # (measured 0.56 s → 5.7 s on the standalone language_id query
    # when the split stopped being a projected column). Shape now:
    # bind the token array ONCE as a lambda variable (1-element
    # aggregate), build the per-language score array with each score
    # evaluated exactly once, and fold the argmax over the tiny struct
    # array. The fold replicates the original loop bit-for-bit: same
    # score doubles, strictly-greater update in sorted language order
    # (ties → earliest name), init 0.0/'und' (a language must score
    # > 0). Verified value-identical row-for-row and oracle-green.
    def _fold(tk):
        arr = F.array(
            *[
                F.struct(
                    (
                        F.size(
                            F.array_intersect(
                                tk, F.array(*[F.lit(w) for w in words])
                            )
                        ).cast("double")
                        / F.nullif(F.size(tk).cast("double"), F.lit(0.0))
                    ).alias("s"),
                    F.lit(lang).alias("l"),
                )
                for lang, words in sorted(LANG_MARKERS.items())
            ]
        )
        return F.aggregate(
            arr,
            F.struct(F.lit(0.0).alias("s"), F.lit("und").alias("l")),
            lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
        )["l"]

    best = F.aggregate(F.array(toks), F.lit("und"), lambda _, tk: _fold(tk))
    return F.when(
        cjk_chars.cast("double")
        / F.nullif(F.length(F.col(text_col)).cast("double"), F.lit(0.0))
        > 0.2,
        F.lit("zh"),
    ).otherwise(best)


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID: CJK char share → 'zh'; else the language
    whose marker-stopword share of tokens is highest (ties → language
    name ascending); no markers at all → 'und'."""
    return df.select(
        F.col(id_col).alias("id"),
        language_pred_col(text_col).alias("lang_pred"),
    )


def language_id_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`language_id`.

    The Python loop updates best only on STRICTLY greater score, so the
    earliest language (sorted order: de, en, es, fr) wins ties; the CASE
    below replicates that with >= comparisons on earlier languages.
    """
    langs = sorted(LANG_MARKERS)
    score_cols = []
    for lang in langs:
        markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        score_cols.append(
            f"CAST(len(list_intersect(toks, [{markers}])) AS DOUBLE)"
            f" / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS s_{lang}"
        )
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{other}" for other in langs[i + 1 :]]
        conds.append(f"s_{lang} > 0")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "\n      ".join(cases)
    return f"""
WITH t AS (
  SELECT {id_col} AS id, {text_col} AS txt,
         list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
  FROM {table}
), s AS (
  SELECT id, txt, toks,
    {", ".join(score_cols)}
  FROM t
)
SELECT id,
  CASE WHEN CAST(length(regexp_replace(txt, '[^一-鿿]', '', 'g')) AS DOUBLE)
            / nullif(CAST(length(txt) AS DOUBLE), 0.0) > 0.2 THEN 'zh'
  ELSE (CASE
      {case_sql}
      ELSE 'und' END)
  END AS lang_pred
FROM s
"""


def quality_col(text_col: str):
    """Quality score as a reusable Column expression (see
    :func:`quality_score`) so composed pipelines can fold it into an
    existing scan instead of joining a second pass."""
    t = F.col(text_col)
    toks = F.array_remove(F.split(F.lower(t), r"\s+"), "")
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(t).cast("double")
    alpha_ratio = (
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
        / F.nullif(n_chars, F.lit(0.0))
    )
    mean_wlen = (
        (n_chars - (n_tok - 1)) / F.nullif(n_tok, F.lit(0.0))
    )
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
    wlen_ok = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), 1.0).otherwise(0.0)
    return F.round(
        0.4 * F.coalesce(alpha_ratio, F.lit(0.0)) + 0.3 * len_ok + 0.3 * wlen_ok, 6
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document quality heuristics: length band, alpha ratio, stopword
    presence, mean word length band → score in [0, 1], rounded to 6 dp.

    All components are exact integer ratios, so the score hash-matches
    across engines.
    """
    return df.select(F.col(id_col).alias("id"), quality_col(text_col).alias("quality"))


def quality_sql_expr(text_col: str) -> str:
    """The quality score as a DuckDB scalar expression (the oracle twin
    of :func:`quality_col`)."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    n_chars = f"CAST(length({text_col}) AS DOUBLE)"
    alpha = (
        f"CAST(length(regexp_replace({text_col}, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
        f" / nullif({n_chars}, 0.0)"
    )
    mean_wlen = f"({n_chars} - ({n_tok} - 1)) / nullif({n_tok}, 0.0)"
    return (
        f"round(0.4 * COALESCE({alpha}, 0.0)"
        f" + 0.3 * (CASE WHEN {n_tok} >= 10 AND {n_tok} <= 100000 THEN 1.0 ELSE 0.0 END)"
        f" + 0.3 * (CASE WHEN {mean_wlen} >= 2.0 AND {mean_wlen} <= 12.0 THEN 1.0 ELSE 0.0 END),"
        f" 6)"
    )


def quality_score_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
SELECT {id_col} AS id, {quality_sql_expr(text_col)} AS quality
FROM {table}
"""


def fingerprint_col(text_col: str):
    """md5 fingerprint of whitespace-normalized lowercase text as a
    reusable Column expression."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return F.md5(norm)


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized lowercase text (portable across engines)."""
    return df.select(
        F.col(id_col).alias("id"), fingerprint_col(text_col).alias("fingerprint")
    )


def fingerprint_sql_expr(text_col: str) -> str:
    return f"md5(trim(regexp_replace(lower({text_col}), '\\s+', ' ', 'g')))"


def fingerprint_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
SELECT {id_col} AS id,
       {fingerprint_sql_expr(text_col)} AS fingerprint
FROM {table}
"""


def ntokens_col(text_col: str):
    """Whitespace token count as a reusable Column expression."""
    return F.size(
        F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    ).cast("bigint")


def ntokens_sql_expr(text_col: str) -> str:
    return (
        f"CAST(len(list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'),"
        f" x -> x <> '')) AS BIGINT)"
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into fixed-width overlapping character chunks —
    the standard context-window preparation step for training corpora.

    Chunk ``i`` covers characters ``[i*step+1, i*step+size]`` with
    ``step = size - overlap``; a document of length L yields
    ``floor((L-1)/step) + 1`` chunks (pure integer arithmetic, so the
    DuckDB oracle is bit-identical). Runs as one ``posexplode`` over a
    generated substring array: no shuffle at all until a consumer
    aggregates — at 100 TB this is a map-only stage whose output
    partitioning follows the input files.
    """
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    step = size - overlap
    chunks = (
        f"transform(sequence(0, int(floor((greatest(length({text_col}), 1) - 1) / {step}))),"
        f" i -> substring({text_col}, i * {step} + 1, {size}))"
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.posexplode(F.expr(chunks)).alias("chunk_idx", "chunk"))
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            "chunk",
            F.length("chunk").cast("long").alias("chunk_len"),
        )
    )


def chunk_sql(
    table: str, id_col: str, text_col: str, size: int = 200, overlap: int = 50
) -> str:
    """DuckDB oracle for :func:`chunk_documents` (same integer chunk
    arithmetic via generate_series)."""
    step = size - overlap
    # list-returning generate_series + unnest: the table-function form
    # cannot take lateral column arguments in DuckDB
    return f"""
WITH base AS (
  SELECT {id_col}, {text_col},
         unnest(generate_series(0, CAST(floor((greatest(length({text_col}), 1) - 1) / {step}) AS BIGINT))) AS i
  FROM {table}
  WHERE {text_col} IS NOT NULL
)
SELECT {id_col},
       i AS chunk_idx,
       substr({text_col}, CAST(i * {step} + 1 AS BIGINT), {size}) AS chunk,
       CAST(length(substr({text_col}, CAST(i * {step} + 1 AS BIGINT), {size})) AS BIGINT) AS chunk_len
FROM base
"""


def quality_filter_by_group(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    keep_fraction: float = 0.5,
) -> DataFrame:
    """Corpus curation: keep the top ``keep_fraction`` of documents per
    group (e.g. per language) by quality score — cumulative
    distribution via a ranked window inside each group, one shuffle
    keyed by the group. Ties break on id so the kept set is exactly
    reproducible; percent_rank is an exact small-integer ratio, so the
    cut is engine-portable.
    """
    from pyspark.sql import Window

    q = quality_score(df, id_col, text_col)
    scored = df.select(F.col(id_col), F.col(group_col)).join(
        q, df[id_col] == q["id"]
    ).select(F.col(id_col), F.col(group_col), F.col("quality"))
    w = Window.partitionBy(group_col).orderBy(F.desc("quality"), F.asc(id_col))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .where(F.col("pr") <= keep_fraction)
        .select(F.col(id_col), F.col(group_col), "quality", F.col("pr").alias("quality_rank"))
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: token
    count, distinct-token count, duplicate-token fraction, top-token
    share, and top-word-bigram share (Rae et al. 2021's repetition
    filters, re-expressed as one Spark aggregation chain).

    Runs as ONE explode over (unigrams + bigrams) tagged by kind,
    followed by two hash aggregations — a single token-grain shuffle,
    the same shape as ``token_stats``; at 100 TB the state is
    O(distinct grams per doc), never a per-document collect. All ratios
    are exact small-integer divisions rounded to 6 dp, so the DuckDB
    oracle hash-matches. Documents with zero tokens drop out (explode
    of an empty array), mirrored by the oracle.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    d = df.select(F.col(id_col).alias("id"), toks.alias("toks"))
    bigrams = F.expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
        " (t, i) -> concat(t, ' ', toks[i + 1]))"
    )
    grams = d.select(
        "id",
        F.explode(
            F.concat(
                F.transform(
                    F.col("toks"),
                    lambda t: F.struct(F.lit("u").alias("kind"), t.alias("g")),
                ),
                F.transform(
                    bigrams,
                    lambda b: F.struct(F.lit("b").alias("kind"), b.alias("g")),
                ),
            )
        ).alias("e"),
    ).select("id", F.col("e.kind").alias("kind"), F.col("e.g").alias("g"))
    counts = grams.groupBy("id", "kind", "g").agg(F.count(F.lit(1)).alias("c"))
    u = F.col("kind") == "u"
    b = F.col("kind") == "b"
    n_tok = F.sum(F.when(u, F.col("c")))
    n_distinct = F.count(F.when(u, F.lit(1)))
    top_tok = F.max(F.when(u, F.col("c")))
    n_bi = F.sum(F.when(b, F.col("c")))
    top_bi = F.max(F.when(b, F.col("c")))
    return counts.groupBy("id").agg(
        n_tok.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct_tokens"),
        F.round(F.lit(1.0) - n_distinct / n_tok, 6).alias("dup_token_frac"),
        F.round(top_tok / n_tok, 6).alias("top_token_share"),
        F.coalesce(F.round(top_bi / n_bi, 6), F.lit(0.0)).alias("top_bigram_share"),
    )


def repetition_stats_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB oracle for :func:`repetition_stats` (same gram grains,
    same integer-ratio arithmetic)."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
    return f"""
WITH t AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {table}
),
grams AS (
  SELECT id, 'u' AS kind, unnest(toks) AS g FROM t
  UNION ALL
  SELECT id, 'b' AS kind,
         unnest(list_transform(list_slice(toks, 1, len(toks) - 1),
                               (x, i) -> x || ' ' || toks[i + 1])) AS g
  FROM t
),
counts AS (
  SELECT id, kind, g, count(*) AS c FROM grams GROUP BY 1, 2, 3
)
SELECT id,
  CAST(sum(CASE WHEN kind = 'u' THEN c END) AS BIGINT) AS n_tokens,
  CAST(count(CASE WHEN kind = 'u' THEN 1 END) AS BIGINT) AS n_distinct_tokens,
  round(1.0 - count(CASE WHEN kind = 'u' THEN 1 END)
            / CAST(sum(CASE WHEN kind = 'u' THEN c END) AS DOUBLE), 6) AS dup_token_frac,
  round(max(CASE WHEN kind = 'u' THEN c END)
      / CAST(sum(CASE WHEN kind = 'u' THEN c END) AS DOUBLE), 6) AS top_token_share,
  COALESCE(round(max(CASE WHEN kind = 'b' THEN c END)
      / CAST(sum(CASE WHEN kind = 'b' THEN c END) AS DOUBLE), 6), 0.0) AS top_bigram_share
FROM counts
GROUP BY id
"""


# PII patterns: RE2-compatible (no lookarounds), valid for both Java
# regex (Spark) and RE2 (DuckDB). Applied via Column-literal patterns
# on the Spark side — no SQL string parsing, so no backslash doubling.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII detection + redaction for training corpora: count email /
    phone / IPv4 matches and emit the text with each span replaced by
    a typed placeholder. Pure map-only builtin expressions (regexp
    runs JVM-side inside whole-stage codegen) — at 100 TB this stage
    has no shuffle at all. Counts are measured on the ORIGINAL text;
    redaction applies email → phone → IPv4 in that fixed order so the
    output is engine-reproducible.
    """
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, F.lit(PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(PII_PHONE),
            F.lit("<PHONE>"),
        ),
        F.lit(PII_IPV4),
        F.lit("<IP>"),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0))).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0))).cast("bigint").alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), F.lit(0))).cast("bigint").alias("n_ips"),
        scrubbed.alias("scrubbed"),
    )


def pii_scrub_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB oracle for :func:`pii_scrub` (RE2 engine; standard
    string literals pass backslashes through untouched)."""
    return f"""
SELECT {id_col} AS id,
  CAST(len(regexp_extract_all({text_col}, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all({text_col}, '{PII_PHONE}')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all({text_col}, '{PII_IPV4}')) AS BIGINT) AS n_ips,
  regexp_replace(
    regexp_replace(
      regexp_replace({text_col}, '{PII_EMAIL}', '<EMAIL>', 'g'),
      '{PII_PHONE}', '<PHONE>', 'g'),
    '{PII_IPV4}', '<IP>', 'g') AS scrubbed
FROM {table}
"""


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (keyword extraction for
    corpus curation): tf from one token-grain aggregation, document
    frequency from a term-grain aggregation over the tf frame (already
    (doc, term)-distinct, so no countDistinct Expand), corpus size N
    as a broadcast 1-row aggregate, score = tf · ln(N/df) rounded to
    6 dp, top-k via row_number per doc with a term-ascending tie-break.

    Scale shape: two hash-aggregation shuffles plus one per-doc window
    riding the tf partitioning; ``df_terms`` is vocabulary-sized and
    AQE will broadcast it at any realistic scale.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    terms = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # doc_freq rides a window over the tf frame instead of a second
    # aggregate + join, and N is the corpus row count (the standard
    # IDF denominator) read from the id column alone — so the TEXT is
    # scanned and exploded exactly ONCE (plan-asserted); branch-pruned
    # re-aggregations of the corpus would re-explode 100 TB of text.
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("doc_freq", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("doc_freq")), 6),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank_in_doc", F.row_number().over(w))
        .where(F.col("rank_in_doc") <= k)
        .select(
            "id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            "score",
            F.col("rank_in_doc").cast("bigint").alias("rank_in_doc"),
        )
    )


def tfidf_top_terms_sql(table: str, id_col: str, text_col: str, k: int = 5) -> str:
    """DuckDB oracle for :func:`tfidf_top_terms`."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
    return f"""
WITH terms AS (
  SELECT {id_col} AS id, unnest({toks}) AS term FROM {table}
),
tf AS (SELECT id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM {table}),
scored AS (
  SELECT tf.id, tf.term, tf.tf,
         count(*) OVER (PARTITION BY tf.term) AS doc_freq,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE)
             / (count(*) OVER (PARTITION BY tf.term))), 6) AS score
  FROM tf CROSS JOIN n
)
SELECT id, term, CAST(tf AS BIGINT) AS tf, CAST(doc_freq AS BIGINT) AS doc_freq,
       score, CAST(rank_in_doc AS BIGINT) AS rank_in_doc
FROM (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, term ASC) AS rank_in_doc
  FROM scored
)
WHERE rank_in_doc <= {k}
"""


def ngram_overlap(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Contamination AUDIT (GPT-3/PaLM style): for every corpus document,
    the fraction of its distinct word ``n``-grams that also occur
    anywhere in the held-out eval set — ``(id, n_grams, n_overlap,
    overlap_frac, contaminated)``. Where the fuzzy decontaminator DROPS
    near-verbatim docs pairwise, this reports per-document overlap
    against the eval set's gram UNION, which is how train/test overlap
    is usually measured and thresholded.

    Scale shape: the corpus side is one distinct-(doc, gram) explode;
    the eval side reduces to its distinct-gram set — benchmark suites
    are tiny relative to a training corpus, so that set broadcasts and
    the corpus is NEVER shuffled (semi-join + one per-doc aggregation
    riding the explode's partitioning). All ratios are exact integer
    divisions rounded to 6 dp. Documents with fewer than ``n`` tokens
    have no grams and drop out (mirrored by the oracle).
    """
    from datalakerulegeneration_spark.ops.dedup import shingles

    sh = shingles(df, id_col, text_col, n)
    eval_grams = (
        shingles(eval_df, id_col, text_col, n)
        .select(F.col("shingle").alias("eg"))
        .distinct()
    )
    # ONE pass over the corpus grams: left-join the (distinct) eval
    # gram set — at most one match per gram — and count total vs
    # matched in the same aggregation. A semi-join + separate total
    # aggregate would explode the corpus text twice.
    joined = sh.join(F.broadcast(eval_grams), sh["shingle"] == F.col("eg"), "left")
    agg = joined.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("eg").alias("n_overlap"),
    )
    frac = F.round(
        F.col("n_overlap").cast("double") / F.col("n_grams").cast("double"), 6
    )
    return agg.select(
        "id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        frac.alias("overlap_frac"),
        (frac >= threshold).alias("contaminated"),
    )


def ngram_overlap_sql(
    table: str,
    eval_pred: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> str:
    """DuckDB oracle for :func:`ngram_overlap`; ``eval_pred`` is a SQL
    predicate over ``{table}`` selecting the eval-set rows."""
    from datalakerulegeneration_spark.ops.dedup import shingles_sql

    sh = shingles_sql(table, id_col, text_col, n).strip()
    return f"""
WITH sh AS ({sh}),
eval_grams AS (
  SELECT DISTINCT shingle FROM sh
  WHERE id IN (SELECT {id_col} FROM {table} WHERE {eval_pred})
),
tot AS (SELECT id, count(*) AS n_grams FROM sh GROUP BY id),
ov AS (
  SELECT id, count(*) AS n_overlap FROM sh
  WHERE shingle IN (SELECT shingle FROM eval_grams)
  GROUP BY id
)
SELECT tot.id,
       CAST(tot.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(round(CAST(ov.n_overlap AS DOUBLE) / CAST(tot.n_grams AS DOUBLE), 6), 0.0) AS overlap_frac,
       COALESCE(round(CAST(ov.n_overlap AS DOUBLE) / CAST(tot.n_grams AS DOUBLE), 6), 0.0) >= {threshold!r} AS contaminated
FROM tot LEFT JOIN ov ON tot.id = ov.id
"""


def common_line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style line-level dedup: a line (``sep``-separated segment,
    ``sep`` is a regex) occurring in at least ``min_docs`` DISTINCT
    documents is boilerplate (headers, nav bars, license blurbs) and is
    removed from every document. Returns ``(id, n_lines, n_kept,
    cleaned_text)`` with surviving lines rejoined by newline in their
    original order; a document whose every line is common keeps an
    empty string.

    Scale shape: one line-grain explode; the document frequency is two
    hash aggregations at (line, id) then (line) grain — never a
    countDistinct Expand; the frequency join back is the inverted-index
    shape (only lines, never raw docs, shuffle — state O(distinct
    lines)); reassembly is one per-doc aggregation over line structs.
    The reference has no corpus-dedup surface at all; this extends the
    pipeline family (SURVEY §2 scale extensions).
    """
    lines = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
        )
    )
    line_docs = (
        lines.select("line", "id")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # merge hint: both sides are corpus-scale (line instances × distinct
    # lines) and the line-instance subtree's STATIC size estimate is the
    # pre-explode file size, so without the hint Catalyst broadcasts the
    # whole distinct-line table once the file passes the threshold (the
    # sf10 audit caught exactly that). Sort-merge shuffles both sides on
    # the line key and spills — the only join shape that survives any
    # corpus size.
    tagged = lines.join(line_docs.hint("merge"), "line").withColumn(
        "keep", F.col("n_docs") < min_docs
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("pos"), F.col("line"))
    )
    return tagged.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.count(F.when(F.col("keep"), F.lit(1))).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
            "\n",
        ).alias("cleaned_text"),
    )


def common_line_dedup_sql(
    table: str,
    id_col: str,
    text_col: str,
    sep: str = "\\n",
    min_docs: int = 2,
) -> str:
    """DuckDB oracle for :func:`common_line_dedup` (``sep`` as an RE2
    regex in a standard single-quoted literal)."""
    return f"""
WITH l AS (
  SELECT id, u.pos AS pos, u.line AS line FROM (
    SELECT {id_col} AS id, string_split_regex({text_col}, '{sep}') AS lines
    FROM {table} WHERE {text_col} IS NOT NULL
  ), LATERAL (
    SELECT unnest(list_transform(lines, (x, i) -> {{'pos': i, 'line': x}}),
                  recursive := true)
  ) u
),
freq AS (
  SELECT line, count(*) AS n_docs
  FROM (SELECT DISTINCT line, id FROM l) GROUP BY line
)
SELECT l.id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(CASE WHEN freq.n_docs < {min_docs} THEN 1 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN freq.n_docs < {min_docs} THEN l.line END,
                           chr(10) ORDER BY l.pos), '') AS cleaned_text
FROM l JOIN freq ON l.line = freq.line
GROUP BY l.id
"""


# C0 control chars (minus \t \n) + DEL. C1 (\x80-\x9f) deliberately
# excluded: Java regex ranges are code points while RE2 would see UTF-8
# bytes there — an engine-divergent class — and real C1 garbage is rare.
CONTROL_RE = r"[\x00-\x08\x0B-\x1F\x7F]"


def clean_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus text normalization — the standard pre-tokenization scrub:
    strip control characters, collapse whitespace runs to single
    spaces, trim, then Unicode-NFC normalize (so decomposed ``e`` +
    combining-accent and precomposed ``é`` tokenize identically).
    Returns ``(id, cleaned, changed)``.

    The regex stages run JVM-side in whole-stage codegen; only the NFC
    step is Python (an Arrow-batched pandas_udf over already-shrunk
    strings — there is no JVM-side normalizer in Spark SQL). Map-only:
    zero shuffles at any scale. The UDF is nested so cloudpickle ships
    it by value (workers may not be able to import this package when
    the driver runs off-repo).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    t = F.col(text_col)
    pre = F.trim(
        F.regexp_replace(
            F.regexp_replace(t, F.lit(CONTROL_RE), F.lit("")),
            F.lit(r"\s+"),
            F.lit(" "),
        )
    )
    return (
        df.where(t.isNotNull())
        .select(F.col(id_col).alias("id"), t.alias("__orig"), _nfc(pre).alias("cleaned"))
        .select("id", "cleaned", (F.col("cleaned") != F.col("__orig")).alias("changed"))
    )


def clean_text_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB oracle for :func:`clean_text` (nfc_normalize is DuckDB's
    NFC — same Unicode normalization the pandas_udf applies)."""
    return f"""
SELECT {id_col} AS id,
       nfc_normalize(trim(regexp_replace(regexp_replace({text_col},
           '{CONTROL_RE}', '', 'g'), '\\s+', ' ', 'g'))) AS cleaned,
       nfc_normalize(trim(regexp_replace(regexp_replace({text_col},
           '{CONTROL_RE}', '', 'g'), '\\s+', ' ', 'g'))) <> {text_col} AS changed
FROM {table}
WHERE {text_col} IS NOT NULL
"""


def vocab_coverage(df: DataFrame, text_col: str, k: int = 100) -> DataFrame:
    """Corpus vocabulary report for tokenizer design: the top-``k``
    terms by frequency with each term's share and the CUMULATIVE share
    of the token stream covered so far — ``(rank, term, n_occurrences,
    share, cum_share)``. The cumulative curve is the statistic that
    sizes a vocabulary ("the top 32k terms cover 98.7% of tokens").

    Shape: one explode + one term-grain hash aggregation (state =
    O(vocabulary), not corpus); the top-k cut is a two-phase
    ``orderBy().limit(k)`` (TakeOrderedAndProject — each partition
    keeps its local top-k, the driver merges k·n_parts rows), so the
    rank/cumulative window only ever sees the k-row result, never the
    vocabulary-sized frame. At 100 TB the vocabulary is 10⁸–10⁹ terms;
    a pre-filter global window would sort it all in one task. Ties
    break by term ascending; shares are exact integer ratios rounded
    to 6 dp.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    tf = (
        df.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = tf.agg(F.sum("n").alias("total"))
    topk = tf.orderBy(F.desc("n"), F.asc("term")).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_n", F.sum("n").over(wc))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            F.col("n").cast("bigint").alias("n_occurrences"),
            F.round(F.col("n").cast("double") / F.col("total").cast("double"), 6).alias("share"),
            F.round(F.col("cum_n").cast("double") / F.col("total").cast("double"), 6).alias("cum_share"),
        )
    )


def vocab_coverage_sql(table: str, text_col: str, k: int = 100) -> str:
    """DuckDB oracle for :func:`vocab_coverage`."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
    return f"""
WITH tf AS (
  SELECT term, count(*) AS n FROM (
    SELECT unnest({toks}) AS term FROM {table}
  ) GROUP BY term
),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM tf),
ranked AS (
  SELECT term, n,
         row_number() OVER (ORDER BY n DESC, term ASC) AS rank,
         sum(n) OVER (ORDER BY n DESC, term ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM tf
)
SELECT CAST(rank AS BIGINT) AS rank, term,
       CAST(n AS BIGINT) AS n_occurrences,
       round(CAST(n AS DOUBLE) / tot.total, 6) AS share,
       round(CAST(cum_n AS DOUBLE) / tot.total, 6) AS cum_share
FROM ranked, tot
WHERE rank <= {k}
"""


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    token distribution — the classic cheap perplexity proxy for corpus
    quality (documents full of rare/garbled tokens score low, fluent
    boilerplate scores high; CCNet/KenLM filtering uses the same idea
    with a 5-gram LM).

    score(d) = mean over tokens t of ln(count(t) / total_tokens).

    Shape mirrors :func:`tfidf_top_terms`: ONE text scan into a
    (doc, term) tf aggregation; corpus term counts ride a window over
    that frame (partitioned by term — no second corpus pass) and the
    token total is a broadcast 1-row aggregate of the tf frame.
    Rounded to 6 dp for engine parity.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    terms = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    total = tf.agg(F.sum("tf").alias("n_total"))
    corpus_tf = F.sum("tf").over(Window.partitionBy("term"))
    scored = (
        tf.withColumn("corpus_tf", corpus_tf)
        .crossJoin(F.broadcast(total))
        .withColumn(
            "lp", F.col("tf") * F.log(F.col("corpus_tf") / F.col("n_total"))
        )
    )
    return scored.groupBy("id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.round(F.sum("lp") / F.sum("tf"), 6).alias("mean_logprob"),
    )


def unigram_logprob_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB oracle for :func:`unigram_logprob`."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
    return f"""
WITH terms AS (
  SELECT {id_col} AS id, unnest({toks}) AS term FROM {table}
),
tf AS (SELECT id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS n_total FROM tf),
scored AS (
  SELECT tf.id, tf.tf,
         tf.tf * ln((sum(tf.tf) OVER (PARTITION BY tf.term)) / tot.n_total) AS lp
  FROM tf CROSS JOIN tot
)
SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(sum(lp) / sum(tf), 6) AS mean_logprob
FROM scored GROUP BY id
"""


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document for a fixed query-term
    set — the keyword leg of hybrid (keyword + embedding) retrieval.

    Scale shape: NO explode and no per-term shuffle — per-term
    frequencies come from JVM higher-order array functions
    (``size(filter(tokens, x -> x = t))``) inside whole-stage codegen,
    corpus statistics (N, avgdl, per-term document frequency) are ONE
    1-row aggregate broadcast back, and scoring is a map-only pass.
    Two scans of the text total, both column-pruned. Documents with no
    query term are dropped by an integer tf-sum test (no float
    threshold), and scores round to 6 dp for engine portability.
    """
    if not query_terms or any("'" in t or '"' in t for t in query_terms):
        raise ValueError(f"bm25_scores: invalid query terms {query_terms}")
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    d = df.select(F.col(id_col).alias("id"), toks.alias("_toks")).withColumn(
        "_dl", F.size("_toks").cast("bigint")
    )
    stat_aggs = [
        F.count(F.lit(1)).alias("_n"),
        (F.sum("_dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    ]
    for i, t in enumerate(query_terms):
        stat_aggs.append(
            F.sum(F.when(F.array_contains("_toks", t), 1).otherwise(0)).alias(f"_df{i}")
        )
    stats = d.agg(*stat_aggs)
    scored = d.crossJoin(F.broadcast(stats))
    tf_sum = None
    score = None
    for i, t in enumerate(query_terms):
        # NB: a two-arg lambda would be called as (element, index) by
        # F.filter — bind the term via a closure factory instead
        def _eq(term):
            return lambda x: x == F.lit(term)

        tf = F.size(F.filter("_toks", _eq(t))).cast("bigint")
        scored = scored.withColumn(f"_tf{i}", tf)
        idf = F.log(
            (F.col("_n").cast("double") - F.col(f"_df{i}") + 0.5)
            / (F.col(f"_df{i}") + 0.5)
            + 1.0
        )
        part = idf * (
            F.col(f"_tf{i}") * (k1 + 1.0)
            / (
                F.col(f"_tf{i}")
                + k1 * (1.0 - b + b * F.col("_dl").cast("double") / F.col("_avgdl"))
            )
        )
        tf_sum = F.col(f"_tf{i}") if tf_sum is None else tf_sum + F.col(f"_tf{i}")
        score = part if score is None else score + part
    return (
        scored.where(tf_sum > 0)
        .select("id", F.round(score, 6).alias("bm25"))
    )


def bm25_scores_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB oracle for :func:`bm25_scores` (same expression shapes so
    doubles match bit-for-bit before the 6 dp round)."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
    dfs = ", ".join(
        f"count(*) FILTER (WHERE list_contains(toks, '{t}')) AS df{i}"
        for i, t in enumerate(query_terms)
    )
    tfs = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}" for i, t in enumerate(query_terms)
    )
    parts = " + ".join(
        f"ln((CAST(n AS DOUBLE) - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * (tf{i} * ({k1} + 1.0)"
        f" / (tf{i} + {k1} * (1.0 - {b} + {b} * CAST(dl AS BIGINT) / avgdl)))"
        for i in range(len(query_terms))
    )
    tf_sum = " + ".join(f"tf{i}" for i in range(len(query_terms)))
    return f"""
WITH d AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {table}
),
dd AS (SELECT id, toks, len(toks) AS dl FROM d),
stats AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, {dfs}
  FROM dd
),
tf AS (SELECT id, dl, {tfs} FROM dd)
SELECT id, round({parts}, 6) AS bm25
FROM tf, stats
WHERE {tf_sum} > 0
"""


def token_kl_by_group(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Per-group token-distribution divergence from the whole corpus:
    ``KL(group ‖ corpus)`` over lowercase whitespace tokens, the
    data-mixture diagnostic ("how far is this source from the average
    training stream"). Output one row per group: ``(<group_col>,
    n_tokens, n_terms, kl_divergence)``.

    Shape (100 TB): ONE text scan — explode + (group, term)-grain hash
    aggregation; corpus term counts come from a TERM-partitioned window
    over that vocabulary-sized frame (each term's frame holds at most
    #groups rows, never a global sort); per-group reduction is a hash
    agg; the corpus total is a #groups-row window over the final
    per-group frame. Nothing re-scans the text and no frame is ever
    gathered to one task. The identity used so a single linear flow
    suffices:  KL = (Σ_t n·ln(n/cn))/G + ln(C/G)  with n = group term
    count, cn = corpus term count, G = group tokens, C = corpus tokens
    (every group term also appears in the corpus, so no log(0)).
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    gt = (
        df.select(F.col(group_col).alias("grp"), F.explode(toks).alias("term"))
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("term")
    per = (
        gt.withColumn("cn", F.sum("n").over(wt))
        .groupBy("grp")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum(
                F.col("n")
                * F.log(F.col("n").cast("double") / F.col("cn").cast("double"))
            ).alias("nlog"),
        )
    )
    # corpus total = sum over the per-GROUP frame (#groups rows) — the
    # documented tiny-frame global window, same as group_mix's shares
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.withColumn("c_total", F.sum("n_tokens").over(wall)).select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "n_terms",
        F.round(
            F.col("nlog") / F.col("n_tokens").cast("double")
            + F.log(F.col("c_total").cast("double") / F.col("n_tokens").cast("double")),
            6,
        ).alias("kl_divergence"),
    )


def token_kl_by_group_sql(table: str, group_col: str, text_col: str) -> str:
    """DuckDB oracle for :func:`token_kl_by_group` — the same
    single-flow identity, so both engines sum the identical doubles."""
    toks = (
        f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
    )
    return f"""
WITH gt AS (
  SELECT grp, term, count(*) AS n FROM (
    SELECT {group_col} AS grp, unnest({toks}) AS term FROM {table}
  ) GROUP BY grp, term
),
t1 AS (
  SELECT grp, n, sum(n) OVER (PARTITION BY term) AS cn FROM gt
),
per AS (
  SELECT grp, CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_terms,
         sum(n * ln(CAST(n AS DOUBLE) / CAST(cn AS DOUBLE))) AS nlog
  FROM t1 GROUP BY grp
)
SELECT grp AS {group_col}, n_tokens, n_terms,
       round(nlog / CAST(n_tokens AS DOUBLE)
             + ln(CAST(sum(n_tokens) OVER () AS DOUBLE) / CAST(n_tokens AS DOUBLE)),
             6) AS kl_divergence
FROM per
"""


def ngram_overlap_multi(
    df: DataFrame,
    eval_sets: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Contamination audit against N eval sets in ONE corpus pass —
    ``(id, eval_set, n_grams, n_overlap, overlap_frac, contaminated)``,
    one row per (document, eval set) with ≥1 shared gram. Monitoring M
    benchmarks as M separate :func:`ngram_overlap` runs costs M corpus
    explodes; here every eval set's distinct grams are TAGGED and
    unioned (benchmark suites are tiny → the tagged union broadcasts),
    so the corpus grams are exploded for the overlap join once plus
    once for the per-doc totals — a constant 2 regardless of M. The
    gram join fans out at most M× on matched grams only; zero-overlap
    (doc, set) pairs are implied rather than materialized (emitting
    them would cross-join the corpus by M at 100 TB).
    Recomputing the map-only shingle explode for the totals branch
    beats persisting a bigger-than-input frame (the minhash lesson).
    """
    from datalakerulegeneration_spark.ops.dedup import shingles

    sh = shingles(df, id_col, text_col, n)
    tagged = None
    for name, edf in eval_sets.items():
        t = (
            shingles(edf, id_col, text_col, n)
            .select(F.col("shingle"))
            .distinct()
            .select(F.lit(name).alias("eval_set"), "shingle")
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    ov = (
        sh.join(F.broadcast(tagged), "shingle")
        .groupBy("id", "eval_set")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    totals = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    frac = F.round(
        F.col("n_overlap").cast("double") / F.col("n_grams").cast("double"), 6
    )
    return ov.join(totals, "id").select(
        "id",
        "eval_set",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        frac.alias("overlap_frac"),
        (frac >= threshold).alias("contaminated"),
    )


def ngram_overlap_multi_sql(
    table: str,
    eval_preds: dict[str, str],
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> str:
    """DuckDB oracle for :func:`ngram_overlap_multi`; ``eval_preds``
    maps eval-set name → SQL predicate over ``{table}``."""
    from datalakerulegeneration_spark.ops.dedup import shingles_sql

    sh = shingles_sql(table, id_col, text_col, n).strip()
    tagged = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS eval_set, shingle FROM ("
        f"SELECT DISTINCT shingle FROM sh WHERE id IN"
        f" (SELECT {id_col} FROM {table} WHERE {pred}))"
        for name, pred in eval_preds.items()
    )
    return f"""
WITH sh AS ({sh}),
tagged AS ({tagged}),
ov AS (
  SELECT sh.id, tagged.eval_set, count(*) AS n_overlap
  FROM sh JOIN tagged ON sh.shingle = tagged.shingle
  GROUP BY 1, 2
),
tot AS (SELECT id, count(*) AS n_grams FROM sh GROUP BY id)
SELECT ov.id, ov.eval_set,
       CAST(tot.n_grams AS BIGINT) AS n_grams,
       CAST(ov.n_overlap AS BIGINT) AS n_overlap,
       round(CAST(ov.n_overlap AS DOUBLE) / CAST(tot.n_grams AS DOUBLE), 6) AS overlap_frac,
       round(CAST(ov.n_overlap AS DOUBLE) / CAST(tot.n_grams AS DOUBLE), 6) >= {threshold!r} AS contaminated
FROM ov JOIN tot ON ov.id = tot.id
"""


def corpus_report(
    df: DataFrame, id_col: str, text_col: str, group_col: str, tokenizer_fn=None
) -> DataFrame:
    """Dataset report card: the corpus-level numbers a data sheet leads
    with, as ``(metric, value)`` rows — n_docs, n_null_text,
    total_tokens, total_chars, n_sources, mean_quality, mean_doc_tokens,
    dup_doc_ratio (fraction of docs whose text also appears under
    another id), distinct_text_ratio.

    TWO scans: one wide aggregation folds every per-document statistic
    (token counts and quality ride the same pass as expressions), and
    one digest-grain aggregation computes the duplication numbers
    (md5-keyed, bodies never shuffle — same contract as exact_dedup).
    All ratios are exact integer arithmetic rounded to 6 dp.

    ``tokenizer_fn`` (``ops.tokenize.TokenizerFn``) swaps
    total_tokens / mean_doc_tokens to REAL tokenizer counts (one
    Arrow-batched pandas_udf riding the same wide aggregation scan);
    the default stays the whitespace count with its exact oracle.
    """
    t = F.col(text_col)
    if tokenizer_fn is not None:
        from datalakerulegeneration_spark.ops.tokenize import token_count_col

        toks = token_count_col(text_col, tokenizer_fn)
    else:
        toks = ntokens_col(text_col)
    wide = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(t.isNull().cast("bigint")).alias("n_null_text"),
        F.sum(F.coalesce(toks, F.lit(0))).alias("total_tokens"),
        F.sum(F.coalesce(F.length(t).cast("bigint"), F.lit(0))).alias("total_chars"),
        F.countDistinct(F.col(group_col)).alias("n_sources"),
        F.avg(quality_col(text_col)).alias("mean_quality"),
    )
    digests = (
        df.where(t.isNotNull())
        .groupBy(F.md5(t.cast("binary")).alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).alias("n_distinct_texts"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("n_dup_docs"),
            F.sum("c").alias("n_text_docs"),
        )
    )
    j = wide.crossJoin(F.broadcast(digests))
    metrics = [
        ("n_docs", F.col("n_docs").cast("double")),
        ("n_null_text", F.col("n_null_text").cast("double")),
        ("total_tokens", F.col("total_tokens").cast("double")),
        ("total_chars", F.col("total_chars").cast("double")),
        ("n_sources", F.col("n_sources").cast("double")),
        ("mean_quality", F.round(F.col("mean_quality"), 6)),
        (
            "mean_doc_tokens",
            F.round(F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"), 6),
        ),
        (
            "dup_doc_ratio",
            F.round(F.col("n_dup_docs").cast("double") / F.col("n_text_docs").cast("double"), 6),
        ),
        (
            "distinct_text_ratio",
            F.round(
                F.col("n_distinct_texts").cast("double") / F.col("n_text_docs").cast("double"), 6
            ),
        ),
    ]
    stacked = ", ".join(f"'{name}', {name}" for name, _ in metrics)
    out = j.select(*[expr.alias(name) for name, expr in metrics])
    return out.selectExpr(f"stack({len(metrics)}, {stacked}) as (metric, value)")


def corpus_report_sql(table: str, id_col: str, text_col: str, group_col: str) -> str:
    """DuckDB oracle for :func:`corpus_report`."""
    t = text_col
    ntok = ntokens_sql_expr(text_col)
    q = quality_sql_expr(text_col)
    return f"""
WITH wide AS (
  SELECT count(*) AS n_docs,
         sum(CASE WHEN {t} IS NULL THEN 1 ELSE 0 END) AS n_null_text,
         sum(COALESCE({ntok}, 0)) AS total_tokens,
         sum(COALESCE(CAST(length({t}) AS BIGINT), 0)) AS total_chars,
         count(DISTINCT {group_col}) AS n_sources,
         avg({q}) AS mean_quality
  FROM {table}
),
dg AS (
  SELECT count(*) AS n_distinct_texts,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup_docs,
         sum(c) AS n_text_docs
  FROM (SELECT md5({t}) AS d, count(*) AS c FROM {table}
        WHERE {t} IS NOT NULL GROUP BY md5({t}))
)
SELECT metric, value FROM (
  SELECT unnest(['n_docs', 'n_null_text', 'total_tokens', 'total_chars',
                 'n_sources', 'mean_quality', 'mean_doc_tokens',
                 'dup_doc_ratio', 'distinct_text_ratio']) AS metric,
         unnest([CAST(n_docs AS DOUBLE), CAST(n_null_text AS DOUBLE),
                 CAST(total_tokens AS DOUBLE), CAST(total_chars AS DOUBLE),
                 CAST(n_sources AS DOUBLE), round(mean_quality, 6),
                 round(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6),
                 round(CAST(n_dup_docs AS DOUBLE) / CAST(n_text_docs AS DOUBLE), 6),
                 round(CAST(n_distinct_texts AS DOUBLE) / CAST(n_text_docs AS DOUBLE), 6)]) AS value
  FROM wide, dg
)
"""


def pmi_collocations(
    df: DataFrame, text_col: str, min_count: int = 5, k: int = 20
) -> DataFrame:
    """Top-``k`` adjacent-bigram collocations by pointwise mutual
    information — the classic collocation detector (Church & Hanks
    1990): PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) estimated
    over adjacent token pairs and p(x) over all tokens. High-PMI pairs
    are multiword units ("new york", "machine learning"); corpus
    curation uses them for tokenizer/vocab audits and boilerplate
    discovery. ``min_count`` suppresses the classic PMI low-frequency
    blow-up (a pair seen once between two hapaxes maxes the score).

    Scale shape: three column-pruned text passes (unigram explode,
    adjacent-pair explode, and a size-only scalar-totals pass — all
    map-side; AQE additionally reuses the unigram exchange for the two
    w1/w2 joins), vocabulary-grain and pair-grain groupBys, then joins
    ONLY on the ≥min_count pair frame
    (hinted shuffle-hash: the pair frame post-explode defeats static
    estimates, the same sf10 class every dedup join guards against).
    The two scalar totals broadcast as 1-row frames. Top-k is
    orderBy+limit (TakeOrderedAndProject — parallel partial top-k, no
    global window). PMI rounded to 6 dp; ties broken by (w1, w2).
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    base = df.where(F.col(text_col).isNotNull()).select(toks.alias("toks"))
    uni = (
        base.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg_all = (
        base.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    bgc = bg_all.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    # BOTH scalar totals from one size-only pass (no explode, column-
    # pruned) instead of replaying the uni/bgc explode lineages —
    # Σ tokens and Σ (len−1 over len≥2 docs) are exact BIGINT sums
    totals = base.agg(
        F.sum(F.greatest(F.size("toks"), F.lit(0))).cast("double").alias("n_total"),
        F.sum(F.greatest(F.size("toks") - 1, F.lit(0))).cast("double").alias("b_total"),
    )
    ux = uni.select(F.col("term").alias("_t1"), F.col("c").alias("c1"))
    uy = uni.select(F.col("term").alias("_t2"), F.col("c").alias("c2"))
    scored = (
        bgc.where(F.col("n_pair") >= min_count)
        .hint("shuffle_hash")
        .join(ux, F.col("w1") == F.col("_t1"))
        .hint("shuffle_hash")
        .join(uy, F.col("w2") == F.col("_t2"))
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") / F.col("b_total"))
                    / ((F.col("c1") / F.col("n_total")) * (F.col("c2") / F.col("n_total")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(k)


def pmi_collocations_sql(
    table: str, text_col: str, min_count: int = 5, k: int = 20
) -> str:
    """DuckDB oracle for :func:`pmi_collocations`."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
    return f"""
WITH base AS (SELECT {toks} AS toks FROM {table} WHERE {text_col} IS NOT NULL),
unic AS (
  SELECT term, count(*) AS c
  FROM (SELECT unnest(toks) AS term FROM base) GROUP BY term
),
bgc AS (
  SELECT pair[1] AS w1, pair[2] AS w2, count(*) AS n_pair
  FROM (
    SELECT unnest(list_transform(
             generate_series(1, len(toks) - 1),
             i -> [toks[i], toks[i + 1]])) AS pair
    FROM base WHERE len(toks) >= 2
  ) GROUP BY 1, 2
),
tots AS (
  SELECT CAST(sum(greatest(len(toks), 0)) AS DOUBLE) AS n_total,
         CAST(sum(greatest(len(toks) - 1, 0)) AS DOUBLE) AS b_total
  FROM base
),
scored AS (
  SELECT w1, w2, n_pair,
         round(ln((CAST(n_pair AS DOUBLE) / b_total)
                  / ((ux.c / n_total) * (uy.c / n_total))), 6) AS pmi
  FROM bgc
  JOIN unic ux ON bgc.w1 = ux.term
  JOIN unic uy ON bgc.w2 = uy.term
  CROSS JOIN tots
  WHERE n_pair >= {min_count}
)
SELECT w1, w2, n_pair, pmi FROM scored
ORDER BY pmi DESC, w1, w2 LIMIT {k}
"""


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023 — public
    method): score every document by how target-like its hashed
    unigram distribution is,

        logw(d) = Σ_b tf_d(b) · [ ln p_target(b) − ln p_corpus(b) ]

    over ``n_buckets`` md5-hashed token buckets with add-1 smoothing.
    ``target_col`` is a boolean column marking the (small) target-
    domain exemplars; the rest of the frame is the raw corpus. High
    logw ⇒ resample into the training mix (selection = top-k by
    weight or sampling ∝ softmax(logw) downstream).

    Scale shape: TWO text scans share the (doc, bucket) tf aggregation
    lineage — one reduces it to the ≤``n_buckets``-row bucket LM (whose
    corpus totals ride an unpartitioned window over THAT bounded frame:
    the window sums are BIGINT, so they are exact regardless of
    accumulation order — no float-sum parity risk), one joins the
    broadcast log-ratio frame back per doc. Rounded to 6 dp (the
    per-doc Σ is a float reduction; rounding absorbs accumulation-order
    ulps, same contract as unigram_logprob).

    Returns ``(id, is_target, n_tokens, log_importance)``.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    bucket = F.expr(
        "cast(conv(substr(md5(term), 1, 7), 16, 10) as bigint)"
    ) % F.lit(n_buckets)
    terms = df.select(
        F.col(id_col).alias("id"),
        F.col(target_col).cast("boolean").alias("is_target"),
        F.explode(toks).alias("term"),
    ).select("id", "is_target", bucket.alias("b"))
    tf = terms.groupBy("id", "is_target", "b").agg(F.count(F.lit(1)).alias("tf"))
    lm = (
        tf.groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_target"), F.col("tf")).otherwise(F.lit(0))).alias("ct"),
            F.sum(F.when(~F.col("is_target"), F.col("tf")).otherwise(F.lit(0))).alias("cc"),
        )
    )
    # corpus totals as a window over the bounded bucket frame (exact
    # BIGINT sums — order-free); add-1 smoothing over the FULL bucket
    # space (n_buckets, not just observed buckets — unobserved buckets
    # carry no doc mass anyway)
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nt = F.sum("ct").over(wall).cast("double")
    nc = F.sum("cc").over(wall).cast("double")
    lam = lm.select(
        "b",
        (
            F.log((F.col("ct") + F.lit(1.0)) / (nt + F.lit(float(n_buckets))))
            - F.log((F.col("cc") + F.lit(1.0)) / (nc + F.lit(float(n_buckets))))
        ).alias("lam"),
    )
    scored = tf.join(F.broadcast(lam), "b").withColumn(
        "contrib", F.col("tf") * F.col("lam")
    )
    return scored.groupBy("id", "is_target").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.round(F.sum("contrib"), 6).alias("log_importance"),
    )


def dsir_weights_sql(
    table: str,
    id_col: str,
    text_col: str,
    target_expr: str,
    n_buckets: int = 1024,
) -> str:
    """DuckDB oracle for :func:`dsir_weights`. ``target_expr`` is a
    boolean SQL expression over the table's columns."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
    return f"""
WITH terms AS (
  SELECT id, is_target,
         CAST(('0x' || substr(md5(term), 1, 7)) AS BIGINT) % {n_buckets} AS b
  FROM (
    SELECT {id_col} AS id, CAST({target_expr} AS BOOLEAN) AS is_target,
           unnest({toks}) AS term
    FROM {table}
  )
),
tf AS (SELECT id, is_target, b, count(*) AS tf FROM terms GROUP BY 1, 2, 3),
lm AS (
  SELECT b,
         sum(CASE WHEN is_target THEN tf ELSE 0 END) AS ct,
         sum(CASE WHEN NOT is_target THEN tf ELSE 0 END) AS cc
  FROM tf GROUP BY b
),
lam AS (
  SELECT b,
         ln((ct + 1.0) / (CAST(sum(ct) OVER () AS DOUBLE) + {float(n_buckets)!r}))
         - ln((cc + 1.0) / (CAST(sum(cc) OVER () AS DOUBLE) + {float(n_buckets)!r})) AS lam
  FROM lm
)
SELECT tf.id AS id, tf.is_target AS is_target,
       CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       round(sum(tf.tf * lam.lam), 6) AS log_importance
FROM tf JOIN lam ON tf.b = lam.b
GROUP BY tf.id, tf.is_target
"""


def intra_line_dedup(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Intra-document repeated-line scrub: later repeats of a line
    WITHIN the same document are dropped, the first occurrence survives
    in place — the within-doc grain of CCNet line dedup
    (:func:`common_line_dedup` is the cross-corpus grain; crawled pages
    repeat their own nav/footer blocks too). Returns
    ``(id, n_lines, n_kept, cleaned_text)``; repeated EMPTY lines
    collapse to their first occurrence like any other line.

    Scale shape: strictly per-document — one line explode, a
    (doc, line)-partitioned window min, one per-doc reassembly agg; a
    single shuffle keyed by doc id, no corpus-grain state at all (the
    cross-corpus variant's distinct-line table does not exist here).
    """
    lines = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    first = F.min("pos").over(Window.partitionBy("id", "line"))
    tagged = lines.withColumn("keep", F.col("pos") == first)
    kept_struct = F.when(F.col("keep"), F.struct(F.col("pos"), F.col("line")))
    return tagged.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.count(F.when(F.col("keep"), F.lit(1))).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
            "\n",
        ).alias("cleaned_text"),
    )


def intra_line_dedup_sql(
    table: str, id_col: str, text_col: str, sep: str = "\\n"
) -> str:
    """DuckDB oracle for :func:`intra_line_dedup`."""
    return f"""
WITH l AS (
  SELECT id, u.pos AS pos, u.line AS line FROM (
    SELECT {id_col} AS id, string_split_regex({text_col}, '{sep}') AS lines
    FROM {table} WHERE {text_col} IS NOT NULL
  ), LATERAL (
    SELECT unnest(list_transform(lines, (x, i) -> {{'pos': i, 'line': x}}),
                  recursive := true)
  ) u
),
tagged AS (
  SELECT id, pos, line,
         pos = min(pos) OVER (PARTITION BY id, line) AS keep
  FROM l
)
SELECT id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep THEN line END,
                           chr(10) ORDER BY pos), '') AS cleaned_text
FROM tagged GROUP BY id
"""


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.7
) -> DataFrame:
    """Per-document mean INTERPOLATED bigram log-probability under the
    corpus's own LM — the step above :func:`unigram_logprob` on the
    cheap-perplexity ladder (CCNet's KenLM filtering, one order down):

        score(d) = mean over adjacent pairs of
                   ln( λ·p(w₂|w₁) + (1−λ)·p(w₂) )

    with MLE estimates at bigram grain (p(w₂|w₁) = c(w₁,w₂)/c_left(w₁),
    p(w₂) = c_right(w₂)/B). The corpus scores ITSELF, so every scored
    bigram is by construction seen ≥1 time — interpolation alone keeps
    the log finite, no smoothing constants to tune. Repetitive/
    templated text scores high, incoherent token soup low; the gap vs
    the unigram score isolates WORD-ORDER quality.

    Scale shape: ONE bigram explode → (doc, w₁, w₂) hash agg; all
    three corpus counts ride windows over that frame (partitioned by
    (w₁,w₂), w₁, w₂ — never wider than a bigram/token posting); the
    bigram total comes from a size-only pruned pass (same trick as
    pmi_collocations) and broadcasts. Rounded to 6 dp (float-reduction
    contract of unigram_logprob). Docs with < 2 tokens have no bigrams
    and are absent.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), toks.alias("toks")
    )
    bg = (
        base.where(F.size("toks") >= 2)
        .select(
            "id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("b"),
        )
        .select("id", "b.w1", "b.w2")
        .groupBy("id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c12 = F.sum("tf").over(Window.partitionBy("w1", "w2"))
    cl = F.sum("tf").over(Window.partitionBy("w1"))
    c2 = F.sum("tf").over(Window.partitionBy("w2"))
    b_total = base.agg(
        F.sum(F.greatest(F.size("toks") - 1, F.lit(0))).cast("double").alias("b_total")
    )
    scored = (
        bg.withColumn("c12", c12)
        .withColumn("cl", cl)
        .withColumn("c2", c2)
        .crossJoin(F.broadcast(b_total))
        .withColumn(
            "lp",
            F.col("tf")
            * F.log(
                F.lit(lam) * (F.col("c12").cast("double") / F.col("cl"))
                + F.lit(1.0 - lam) * (F.col("c2").cast("double") / F.col("b_total"))
            ),
        )
    )
    return scored.groupBy("id").agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        F.round(F.sum("lp") / F.sum("tf"), 6).alias("mean_logprob"),
    )


def bigram_logprob_sql(
    table: str, id_col: str, text_col: str, lam: float = 0.7
) -> str:
    """DuckDB oracle for :func:`bigram_logprob`."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {table} WHERE {text_col} IS NOT NULL
),
bg AS (
  SELECT id, pair[1] AS w1, pair[2] AS w2, count(*) AS tf
  FROM (
    SELECT id, unnest(list_transform(
             generate_series(1, len(toks) - 1),
             i -> [toks[i], toks[i + 1]])) AS pair
    FROM base WHERE len(toks) >= 2
  ) GROUP BY 1, 2, 3
),
btot AS (
  SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS DOUBLE) AS b_total FROM base
),
scored AS (
  SELECT id, tf,
         tf * ln({lam!r} * (CAST(sum(tf) OVER (PARTITION BY w1, w2) AS DOUBLE)
                            / sum(tf) OVER (PARTITION BY w1))
                 + {1.0 - lam!r} * (CAST(sum(tf) OVER (PARTITION BY w2) AS DOUBLE)
                                    / b_total)) AS lp
  FROM bg CROSS JOIN btot
)
SELECT id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       round(sum(lp) / sum(tf), 6) AS mean_logprob
FROM scored GROUP BY id
"""


def ngram_diversity(
    df: DataFrame, group_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-group distinct-n diversity: total n-gram INSTANCES, distinct
    n-grams, and their ratio — the corpus-grain compression/diversity
    proxy (distinct-n from the generation-eval literature, applied to
    sources: templated or near-duplicated sources score low;
    :func:`~datalakerulegeneration_spark.ops.dedup.shingle_novelty` is
    the per-document complement). No countDistinct Expand: the distinct
    side is a (group, gram) pre-aggregation, so both counts are plain
    hash aggs over one exploded lineage.

    Returns ``(group, total_ngrams, distinct_ngrams, distinct_ratio)``
    (ratio 6 dp); groups whose every doc is shorter than ``n`` tokens
    are absent.
    """
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    grams = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(group_col).alias("grp"), toks.alias("toks"))
        .where(F.size("toks") >= n)
        .select(
            "grp",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(toks, i, {n})))"
                )
            ).alias("gram"),
        )
    )
    total = grams.groupBy("grp").agg(F.count(F.lit(1)).alias("total_ngrams"))
    distinct = (
        grams.distinct().groupBy("grp").agg(F.count(F.lit(1)).alias("distinct_ngrams"))
    )
    return (
        total.join(distinct, "grp")
        .select(
            F.col("grp").alias("group"),
            "total_ngrams",
            "distinct_ngrams",
            F.round(
                F.col("distinct_ngrams").cast("double") / F.col("total_ngrams"), 6
            ).alias("distinct_ratio"),
        )
    )


def ngram_diversity_sql(
    table: str, group_col: str, text_col: str, n: int = 3
) -> str:
    """DuckDB oracle for :func:`ngram_diversity`."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')"
    return f"""
WITH g AS (
  SELECT grp, unnest(list_transform(
           generate_series(1, len(toks) - {n - 1}),
           i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' '))) AS gram
  FROM (
    SELECT {group_col} AS grp, {toks} AS toks
    FROM {table} WHERE {text_col} IS NOT NULL
  ) WHERE len(toks) >= {n}
)
SELECT grp AS "group",
       count(*) AS total_ngrams,
       count(DISTINCT gram) AS distinct_ngrams,
       round(CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 6) AS distinct_ratio
FROM g GROUP BY grp
"""


def dsir_lm(
    df: DataFrame, text_col: str, target_col: str, n_buckets: int = 1024
) -> DataFrame:
    """The DSIR bucket LM as a standalone DENSE artifact: one row per
    bucket 0..n_buckets−1 with the add-1-smoothed target-vs-corpus
    log-ratio — the train-once side of importance resampling (persist
    this ≤n_buckets-row frame; scoring any future corpus or stream is
    then map-only against it, see streaming.dsir_stream). Buckets never
    observed in training carry the all-smoothing ratio
    ln((nc+B)/(nt+B)), so lookups are total."""
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    bucket = F.expr(
        "cast(conv(substr(md5(term), 1, 7), 16, 10) as bigint)"
    ) % F.lit(n_buckets)
    terms = df.select(
        F.col(target_col).cast("boolean").alias("is_target"),
        F.explode(toks).alias("term"),
    ).select("is_target", bucket.alias("b"))
    lm = terms.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0)).alias("cc"),
    )
    spark = df.sparkSession
    dense = spark.range(n_buckets).select(F.col("id").alias("b"))
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nt = F.sum("ct").over(wall).cast("double")
    nc = F.sum("cc").over(wall).cast("double")
    return (
        dense.join(lm, "b", "left")
        .select("b", F.coalesce("ct", F.lit(0)).alias("ct"), F.coalesce("cc", F.lit(0)).alias("cc"))
        .select(
            "b",
            (
                F.log((F.col("ct") + F.lit(1.0)) / (nt + F.lit(float(n_buckets))))
                - F.log((F.col("cc") + F.lit(1.0)) / (nc + F.lit(float(n_buckets))))
            ).alias("lam"),
        )
    )


def quality_threshold_sweep(
    df: DataFrame, id_col: str, text_col: str, thresholds: tuple[float, ...] = tuple(i / 10 for i in range(10))
) -> DataFrame:
    """Threshold-selection helper: for each candidate quality cutoff,
    how many documents and tokens would survive — the curve a pipeline
    owner reads before fixing ``quality_min``. ONE text scan (each
    threshold is a conditional aggregate over the same scored frame,
    the curation-funnel trick applied across thresholds instead of
    stages); shares the exact stage-1 predicate of ``curate_corpus``,
    so a chosen row's counts equal the quality stage of the funnel at
    that cutoff. ``(threshold, n_docs, n_tokens, doc_share,
    token_share)``, shares of the full corpus rounded 6 dp."""
    q = quality_col(text_col)
    scored = df.select(q.alias("_q"), ntokens_col(text_col).alias("_w"))
    aggs = [
        F.count(F.lit(1)).alias("nd_all"),
        F.coalesce(F.sum("_w"), F.lit(0)).alias("nt_all"),
    ]
    for i, t in enumerate(thresholds):
        cond = F.col("_q") >= float(t)
        aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"nd_{i}"))
        aggs.append(F.coalesce(F.sum(F.when(cond, F.col("_w"))), F.lit(0)).alias(f"nt_{i}"))
    wide = scored.agg(*aggs)
    stack = ", ".join(
        f"cast({float(t)} as double), nd_{i}, nt_{i}" for i, t in enumerate(thresholds)
    )
    out = wide.selectExpr(
        "nd_all",
        "nt_all",
        f"stack({len(thresholds)}, {stack}) as (threshold, n_docs, n_tokens)",
    )
    # nullif: an empty corpus (or one with zero total tokens — all
    # NULL/empty texts) yields NULL shares, not an ANSI /0 error
    return out.select(
        "threshold",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.nullif(F.col("nd_all").cast("double"), F.lit(0.0)), 6).alias("doc_share"),
        F.round(F.col("n_tokens") / F.nullif(F.col("nt_all").cast("double"), F.lit(0.0)), 6).alias("token_share"),
    )


def quality_threshold_sweep_sql(
    table: str, id_col: str, text_col: str, thresholds: tuple[float, ...] = tuple(i / 10 for i in range(10))
) -> str:
    """DuckDB oracle for :func:`quality_threshold_sweep`."""
    q = quality_sql_expr(text_col)
    ntok = ntokens_sql_expr(text_col)
    selects = []
    for t in thresholds:
        selects.append(
            f"SELECT CAST({float(t)} AS DOUBLE) AS threshold,"
            f" CAST(count(CASE WHEN _q >= {float(t)} THEN 1 END) AS BIGINT) AS n_docs,"
            f" CAST(COALESCE(sum(CASE WHEN _q >= {float(t)} THEN _w END), 0) AS BIGINT) AS n_tokens,"
            f" round(count(CASE WHEN _q >= {float(t)} THEN 1 END) / nullif(CAST(count(*) AS DOUBLE), 0.0), 6) AS doc_share,"
            f" round(COALESCE(sum(CASE WHEN _q >= {float(t)} THEN _w END), 0) / nullif(CAST(COALESCE(sum(_w), 0) AS DOUBLE), 0.0), 6) AS token_share"
            f" FROM s"
        )
    return f"""
WITH s AS (SELECT {q} AS _q, {ntok} AS _w FROM {table})
{" UNION ALL ".join(selects)}
"""


CCNET_LABELS = ("tail", "middle", "head")


def ccnet_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 3,
    materialize_scores: bool = False,
) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020): score
    every document with the corpus-LM log-probability proxy
    (:func:`unigram_logprob`), then split the corpus into
    ``n_buckets`` equal-probability bands by EXACT score quantiles —
    head (most fluent) / middle / tail for the standard 3. Pipelines
    train on head+middle, or mix buckets with :func:`target_mixture`.

    Scale shape: one text scan for the LM scores; the bucket
    boundaries are ``n_buckets − 1`` exact R-7 quantiles from the
    distributed quantile engine (``ops.robust.exact_quantiles`` —
    distinct-value grain, two-level cumulative counts, no task ever
    holds the corpus); assignment is a broadcast of that tiny
    threshold frame + one conditional sum. A doc exactly AT a
    boundary goes to the lower bucket (deterministic both engines:
    scores round 6 dp before the quantile, and the R-7 interpolation
    is the identical double expression).

    ``(id, n_tokens, mean_logprob, bucket, bucket_label)`` with bucket
    0 = lowest scores (tail).
    """
    from datalakerulegeneration_spark.ops.robust import exact_quantiles

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    lp = unigram_logprob(df, id_col, text_col)
    if materialize_scores:
        # the thin (id, n_tokens, mean_logprob) frame feeds the
        # quantile engine's branches AND the assignment — unpersisted,
        # the corpus-LM subtree re-derives per branch (the measured
        # superlinear decade in the composed ccnet flagship); the
        # registered standalone query keeps the lazy default so its
        # audited plan is unchanged
        lp = persist(lp)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # r12: the n_buckets−1 thresholds are collapsed to ONE array row
    # and the bucket becomes a map-side count of cleared thresholds —
    # the previous shape crossJoined the threshold ROWS (×(n_buckets−1)
    # row expansion) and re-aggregated every document through a full
    # (id, n_tokens, mean_logprob)-grain shuffle just to sum the
    # comparison flags. size(filter(ts, t -> score > t)) ≡
    # sum((score > t)::int) over the rows — including duplicate
    # thresholds — so bucket ids are unchanged (guide §2.4: remove
    # shuffles outright).
    th = exact_quantiles(lp, "mean_logprob", qs).select(
        F.round(F.col("value"), 6).alias("_t")
    )
    th_arr = th.agg(F.collect_list("_t").alias("_ts"))
    labels = (
        list(CCNET_LABELS)
        if n_buckets == 3
        else [f"b{i}" for i in range(n_buckets)]
    )
    lab = F.array(*[F.lit(s) for s in labels])
    bucket = F.size(
        F.filter("_ts", lambda t: F.col("mean_logprob") > t)
    ).cast("int")
    return (
        lp.crossJoin(F.broadcast(th_arr))
        .select(
            "id",
            "n_tokens",
            "mean_logprob",
            bucket.alias("bucket"),
            F.element_at(lab, bucket + F.lit(1)).alias("bucket_label"),
        )
    )


def ccnet_buckets_sql(table: str, id_col: str, text_col: str, n_buckets: int = 3) -> str:
    """DuckDB oracle for :func:`ccnet_buckets` (quantile_cont ≡ the
    R-7 engine on identical 6-dp-rounded inputs)."""
    inner = unigram_logprob_sql(table, id_col, text_col).strip()
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    labels = (
        list(CCNET_LABELS) if n_buckets == 3 else [f"b{i}" for i in range(n_buckets)]
    )
    lab = ", ".join(f"'{s}'" for s in labels)
    return f"""
WITH lp AS ({inner}),
th AS (
  SELECT round(unnest(quantile_cont(mean_logprob, [{qs}])), 6) AS _t FROM lp
)
SELECT id, n_tokens, mean_logprob,
       CAST(b AS INTEGER) AS bucket, ([{lab}])[CAST(b + 1 AS BIGINT)] AS bucket_label
FROM (
  SELECT lp.id, lp.n_tokens, lp.mean_logprob,
         sum(CASE WHEN lp.mean_logprob > th._t THEN 1 ELSE 0 END) AS b
  FROM lp CROSS JOIN th
  GROUP BY 1, 2, 3
)
"""


def compression_ratio(df: DataFrame, id_col: str, text_col: str, level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    repetitiveness signal (MassiveText/RefinedWeb-style filtering):
    boilerplate and template spam compress far better than natural
    prose, so a HIGH ratio flags low-information documents; it catches
    long-period repetition the n-gram ``repetition_stats`` misses.
    ``(id, n_bytes, n_compressed, ratio)`` with ratio = raw/compressed
    rounded 6 dp; NULL text yields NULL metrics.

    Map-only: one Arrow-batched pandas_udf (zlib is stdlib — always on
    the workers; deflate with a fixed level is deterministic for a
    given zlib build). No SQL twin — DuckDB has no in-SQL deflate —
    so the registered query is a sanctioned rows-only entry, with
    semantics pytest-pinned (repetitive ≫ prose ratio).
    """
    import pandas as pd
    from pyspark.sql.types import LongType

    lvl = int(level)

    @F.pandas_udf(LongType())
    def _clen(s: pd.Series) -> pd.Series:
        import zlib

        return s.fillna("").map(lambda t: len(zlib.compress(t.encode("utf-8"), lvl))).astype("int64")

    t = F.col(text_col)
    n_bytes = F.octet_length(t).cast("bigint")
    n_comp = F.when(t.isNull(), F.lit(None).cast("bigint")).otherwise(_clen(t))
    return df.select(
        F.col(id_col).alias("id"),
        n_bytes.alias("n_bytes"),
        n_comp.alias("n_compressed"),
        F.round(n_bytes.cast("double") / n_comp.cast("double"), 6).alias("ratio"),
    )
