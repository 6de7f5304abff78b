"""Distributed BPE vocabulary learning and encoding.

``vocab_coverage`` (ops/textqa.py) sizes a tokenizer; this module
LEARNS one (r7 verdict item 6). Byte-pair encoding (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units")
is iterative merge-pair counting — pure pair-grain aggregation, the
machinery ``pmi_collocations`` already exercises, run to a fixpoint:

* :func:`bpe_learn` — learn the merge sequence from a corpus. All
  heavy work is distributed: ONE corpus scan builds the distinct-WORD
  frequency table (BPE's sufficient statistic — at 100 TB the corpus
  has billions of rows but the word table is ~10⁸, still a DataFrame,
  never driver-resident), then each merge step is one pair-grain
  aggregation over that table + one map-side rewrite. Only the single
  winning (pair, count) row ever reaches the driver per step. The
  sequential step loop is inherent to BPE (step k+1's counts depend
  on step k's merge), not a scale compromise.
* :func:`bpe_encode` — apply a FROZEN merge list to a corpus:
  distinct words encode once, documents join the word→subwords map at
  token grain. With literal merges every step is deterministic string
  arithmetic, so encoding carries an EXACT DuckDB oracle
  (:func:`bpe_encode_sql`).
* :func:`bpe_tokenizer_fn` — the same frozen merges as a pure-Python
  batch counting fn for the ``ops.tokenize`` Arrow seam: the REAL-BPE
  token-accounting path (pack boundaries, budget cutoffs) with counts
  that match :func:`bpe_encode` symbol-for-symbol.

Symbol-sequence representation (shared by engine and oracle): a word's
symbols are stored as ONE string, each symbol enclosed in single
spaces with two spaces between adjacent symbols (symbols never contain
whitespace — words come from whitespace splitting). Applying merge
(a, b) → ab is then plain ``replace(seq, ' a  b ', ' ab ')``: SQL
replace is left-to-right non-overlapping in Spark, DuckDB, and Python
alike, which IS greedy BPE merge application, and the explicit
boundaries make a false sub-symbol match impossible. The end-of-word
marker ``</w>`` rides the last character (the Sennrich convention), so
learned units distinguish word-final from word-internal positions.

Tie-break (documented, engine-ordered both sides): each step merges
the pair with the highest weighted count, ties broken by (left asc,
right asc).

Marker-aliasing footnote: a corpus whose words contain the LITERAL
character sequence ``</w>`` mid-word can, through enough merges, form
a symbol string-equal to a marker form — at which point the two are
indistinguishable (they are the same string in every representation).
All three implementations (engine, oracle, python twin) share the
convention, so parity is unaffected; it only means learned units can
conflate a pathological literal ``x</w>`` with word-final ``x``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import checkpoint, release, scope

MARKER = "</w>"

_MERGES_SCHEMA = "step int, left string, right string, merged string, pair_count bigint"


def _word_freq(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) — the distinct-word frequency table, BPE's
    sufficient statistic. Lowercase whitespace tokens (the repo's
    shared tokenizer convention)."""
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _init_seq_col():
    """word → the enclosed symbol-string of its characters, last char
    carrying the end-of-word marker: 'cat' → ' c  a  t</w> '."""
    chars = F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    marked = F.concat(
        F.slice(chars, F.lit(1), F.size(chars) - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(MARKER))),
    )
    return F.concat(F.lit(" "), F.array_join(marked, "  "), F.lit(" "))


def _seq_to_arr_expr() -> str:
    """Spark SQL: enclosed symbol-string back to array<string>."""
    return "split(substring(seq, 2, length(seq) - 2), '  ')"


@scope()
def bpe_learn(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_merges: int = 32,
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
    merges_per_scan: int = 1,
) -> DataFrame:
    """Learn a BPE merge sequence: ``(step, left, right, merged,
    pair_count)``, steps 1..≤``n_merges`` (stops early when no pair
    reaches ``min_pair_count``).

    Per scan: adjacent symbol pairs of every distinct word (weighted
    by word frequency) aggregate to (pair → count); the argmax row —
    ties by (left, right) ascending — is collected (ONE row crosses to
    the driver), and the merge applies as a map-side ``replace`` on
    the symbol strings. ``checkpoint_every`` bounds plan lineage
    (``localCheckpoint``): without it step k re-derives k−1 replace
    projections per action — O(k²) recompute across the loop.

    ``merges_per_scan`` (r9) is the production batching hatch: strict
    Sennrich BPE re-counts after EVERY merge — one Spark job per merge,
    32k sequential jobs for a 32k vocabulary. With ``merges_per_scan=K``
    each scan admits up to K pairs from its count table, greedily in
    (count desc, left, right) order, SKIPPING any pair that shares a
    symbol with one already admitted this scan. The batch applies
    SEQUENTIALLY in recorded order — which is also exactly how
    :func:`bpe_encode` and :func:`apply_merges_py` replay it, so a
    frozen-merge replay reproduces the trainer's segmentation exactly.
    (Sequential ≠ simultaneous in one corner: the name check does not
    see CONCATENATIONS, so a batch may admit ('ab','c') alongside
    ('abc','d'), and the 'abc' tokens the first merge creates are then
    eligible for the second — every consumer applies the same
    sequential rule, so all paths stay mutually consistent; r9 review.) Documented semantics delta vs
    strict Sennrich (pytest-pinned): pairs after the first in a batch
    are chosen from counts as of the SCAN, not re-counted after the
    preceding same-batch merges — the standard batched-BPE trade
    (e.g. fastBPE-style trainers); K=1 is bit-identical to strict.

    Registered rows-only: each scan's winners feed the next scan's
    state, so the loop is not expressible as one SQL statement; the
    merge sequence itself is fully deterministic (pytest pins it
    against a local reference implementation), and the encoder it
    feeds (:func:`bpe_encode`) carries the exact oracle.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if merges_per_scan < 1:
        raise ValueError(f"merges_per_scan must be >= 1, got {merges_per_scan}")
    spark = df.sparkSession
    held = state = checkpoint(
        _word_freq(df, text_col).select(_init_seq_col().alias("seq"), "freq"), eager=True
    )
    merges: list[tuple[int, str, str, str, int]] = []
    scans = 0
    while len(merges) < n_merges:
        scans += 1
        k = min(merges_per_scan, n_merges - len(merges))
        pairs = (
            state.select(F.expr(_seq_to_arr_expr()).alias("a"), "freq")
            .where(F.size("a") >= 2)
            .select(
                F.explode(
                    F.expr("transform(sequence(1, size(a) - 1), i -> struct(a[i-1] as l, a[i] as r))")
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("c"))
        )
        # 4k candidates bound the disjointness skips; k rows cross the
        # driver in the common case, never more than 4k
        top = (
            pairs.where(F.col("c") >= min_pair_count)
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(4 * k)
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        batch: list[tuple[str, str, int]] = []
        for row in top:
            l, r = row["l"], row["r"]
            if l in used or r in used:
                continue
            batch.append((l, r, int(row["c"])))
            used.update((l, r))
            if len(batch) == k:
                break
        for l, r, c in batch:
            merges.append((len(merges) + 1, l, r, l + r, c))
            state = state.withColumn(
                "seq", F.replace(F.col("seq"), F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
            )
        if scans % checkpoint_every == 0:
            state = checkpoint(state, eager=True)
            release(held)
            held = state
    return spark.createDataFrame(merges, _MERGES_SCHEMA)


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges,
) -> DataFrame:
    """Encode a corpus with a FROZEN merge list: ``(id, n_subwords,
    subword_text)`` — subwords of the whole document in token order,
    joined by single spaces (a flat string so the row is hashable by
    the correctness gate). ``merges`` is a sequence of (left, right)
    pairs in learned order; each applies as one full greedy
    left-to-right pass, exactly the trainer's semantics.

    Shape: distinct words encode ONCE (the merge passes are map-side
    ``replace`` chains on the word table, never on the corpus); the
    corpus joins the word→subwords map at token grain and reassembles
    per document. NULL-text documents are absent from the output (no
    tokens — the dedup-family convention). Documents whose text has no
    tokens (empty/whitespace) are likewise absent.
    """
    merges = [(l, r) for l, r in merges]
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "word")
    )
    seq = _init_seq_col()
    for l, r in merges:
        seq = F.replace(seq, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    wmap = (
        base.select("word")
        .distinct()
        .select("word", seq.alias("seq"))
        .select("word", F.expr(_seq_to_arr_expr()).alias("subs"))
    )
    return (
        base.join(wmap, "word")
        .groupBy("id")
        .agg(
            F.sum(F.size("subs")).cast("bigint").alias("n_subwords"),
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("subs")))),
                        lambda s: s["subs"],
                    )
                ),
                " ",
            ).alias("subword_text"),
        )
    )


def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


def bpe_encode_sql(table: str, id_col: str, text_col: str, merges) -> str:
    """DuckDB oracle for :func:`bpe_encode` (same enclosed-string
    replace chain, literal merges)."""
    seq = (
        "' ' || array_to_string(list_concat("
        "list_slice(chars, 1, len(chars) - 1),"
        f" [chars[-1] || '{MARKER}']), '  ') || ' '"
    )
    expr = f"({seq})"
    for l, r in merges:
        ql, qr = _sql_quote(l), _sql_quote(r)
        expr = f"replace({expr}, ' {ql}  {qr} ', ' {ql}{qr} ')"
    return f"""
WITH t AS (
  SELECT id, u.pos AS pos, u.word AS word FROM (
    SELECT {id_col} AS id,
           list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
    FROM {table} WHERE {text_col} IS NOT NULL
  ), LATERAL (
    SELECT unnest(list_transform(toks, (x, i) -> {{'pos': i, 'word': x}}),
                  recursive := true)
  ) u
),
w AS (
  SELECT word,
         string_split(substring(s.seq, 2, length(s.seq) - 2), '  ') AS subs
  FROM (
    SELECT word, {expr} AS seq FROM (
      SELECT DISTINCT word,
             list_transform(generate_series(1, length(word)),
                            i -> substring(word, CAST(i AS INTEGER), 1)) AS chars
      FROM t
    )
  ) s
)
SELECT t.id,
       CAST(sum(len(w.subs)) AS BIGINT) AS n_subwords,
       array_to_string(flatten(list(w.subs ORDER BY t.pos)), ' ') AS subword_text
FROM t JOIN w ON t.word = w.word
GROUP BY t.id
"""


def bpe_fertility(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    merges,
) -> DataFrame:
    """Per-group tokenizer FERTILITY under a frozen merge list:
    ``(group, n_docs, n_words, n_subwords, fertility)`` where
    fertility = subwords per whitespace word — THE standard
    tokenizer-evaluation metric (a tokenizer trained on English
    typically shows fertility ≈1.2 on English and ≫2 on unseen
    scripts; corpora are compared per language before choosing a
    vocabulary). Grouping by the documents table's ``lang`` column
    gives exactly that audit.

    Shape: rides :func:`bpe_encode` (distinct words encode once), one
    extra map-side word count per document, one groupBy. Documents
    with NULL/whitespace-only text carry zero words and zero subwords
    — they count toward ``n_docs`` only, never skew the ratio.
    Fertility is NULL for a group with no words (nullif — ANSI-safe).
    """
    enc = bpe_encode(df, id_col, text_col, merges).select("id", "n_subwords")
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.coalesce(
            F.when(F.col(text_col).isNotNull(), F.size(toks).cast("bigint")),
            F.lit(0).cast("bigint"),
        ).alias("n_words"),
    )
    return (
        base.join(enc, "id", "left")
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.coalesce(F.sum("n_subwords"), F.lit(0)).cast("bigint").alias("n_subwords"),
            F.round(
                F.coalesce(F.sum("n_subwords"), F.lit(0)).cast("double")
                / F.nullif(F.sum("n_words").cast("double"), F.lit(0.0)),
                6,
            ).alias("fertility"),
        )
    )


def bpe_fertility_sql(
    table: str, id_col: str, text_col: str, group_col: str, merges
) -> str:
    """DuckDB oracle for :func:`bpe_fertility`."""
    enc = bpe_encode_sql(table, id_col, text_col, merges).strip()
    return f"""
WITH e AS ({enc}),
b AS (
  SELECT {id_col} AS id, {group_col} AS grp,
         CASE WHEN {text_col} IS NULL THEN CAST(0 AS BIGINT)
              ELSE CAST(len(list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'),
                        x -> x <> '')) AS BIGINT) END AS n_words
  FROM {table}
)
SELECT b.grp AS {group_col},
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b.n_words) AS BIGINT) AS n_words,
       CAST(COALESCE(sum(e.n_subwords), 0) AS BIGINT) AS n_subwords,
       round(CAST(COALESCE(sum(e.n_subwords), 0) AS DOUBLE)
             / nullif(CAST(sum(b.n_words) AS DOUBLE), 0.0), 6) AS fertility
FROM b LEFT JOIN e ON b.id = e.id
GROUP BY b.grp
"""


def apply_merges_py(word: str, merges) -> list[str]:
    """Reference greedy application of the merge sequence to one word
    (marker on the last character) — the Python twin of the engine's
    replace chain, used by :func:`bpe_tokenizer_fn` and the tests."""
    syms = list(word)
    if not syms:
        return []
    syms[-1] = syms[-1] + MARKER
    for l, r in merges:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_tokenizer_fn(merges):
    """The frozen merge list as a batch counting fn for the
    ``ops.tokenize`` seam (``pd.Series[str] -> list[int]``): REAL BPE
    subword counts — symbol-for-symbol equal to :func:`bpe_encode` —
    flowing through the one Arrow pandas_udf every token-budgeted
    operator accepts. A per-word cache makes the per-batch cost
    O(distinct words), the same sufficient statistic the engine path
    exploits."""
    import re

    merges = [(l, r) for l, r in merges]
    cache: dict[str, int] = {}
    # ASCII \s to match the engine's Java-regex split (re.ASCII makes
    # \s = [ \t\n\r\f\v]); str.split() would also break on NBSP /
    # U+2000-range spaces and diverge from bpe_encode's word grain
    ws = re.compile(r"\s+", flags=re.ASCII)

    def fn(s: pd.Series):
        counts = []
        for text in s:
            total = 0
            for word in ws.split(str(text).lower()):
                if not word:
                    continue
                n = cache.get(word)
                if n is None:
                    n = len(apply_merges_py(word, merges))
                    cache[word] = n
                total += n
            counts.append(total)
        return counts

    return fn


def load_merges_json(path: str) -> list[tuple[str, str]]:
    """Load a merge list vendored as JSON (``[["l","r"], ...]`` or the
    :func:`bpe_learn` row dicts)."""
    import json

    with open(path) as fh:
        data = json.load(fh)
    out = []
    for item in data:
        if isinstance(item, dict):
            out.append((item["left"], item["right"]))
        else:
            l, r = item[0], item[1]
            out.append((l, r))
    return out


def bpe_vocab(merges, corpus_chars=None) -> list[str]:
    """Deterministic vocabulary implied by a merge sequence: base
    symbols first (every merge's constituent characters, plus
    ``corpus_chars`` and their marker forms if given, sorted), then
    merged symbols in merge order — the id assignment convention of
    :func:`export_hf_tokenizer_json`."""
    merges = [(l, r) for l, r in merges]
    base: set[str] = set()
    for l, r in merges:
        for sym in (l, r):
            core = sym[: -len(MARKER)] if sym.endswith(MARKER) else sym
            for ch in core:
                base.add(ch)
                base.add(ch + MARKER)
    for ch in corpus_chars or ():
        base.add(ch)
        base.add(ch + MARKER)
    vocab = sorted(base)
    seen = set(vocab)
    for l, r in merges:
        m = l + r
        if m not in seen:
            vocab.append(m)
            seen.add(m)
    return vocab


def export_hf_tokenizer_json(merges, path: str, corpus_chars=None) -> None:
    """Write the learned merges as a HuggingFace-format
    ``tokenizer.json`` (model.type = BPE with
    ``end_of_word_suffix: "</w>"`` — the exact convention
    :func:`bpe_learn` trains under — and a Whitespace pre-tokenizer,
    mirroring the lowercase whitespace word grain). The file loads
    with ``tokenizers.Tokenizer.from_file`` wherever that library is
    installed (it is not in this container, so structural correctness
    is what the test pins; `SPARK_GRAFT_TOKENIZER_JSON` then picks it
    up through the existing HF probe)."""
    import json

    merges = [(l, r) for l, r in merges]
    vocab = bpe_vocab(merges, corpus_chars)
    doc = {
        "version": "1.0",
        "truncation": None,
        "padding": None,
        "added_tokens": [],
        "normalizer": {"type": "Lowercase"},
        "pre_tokenizer": {"type": "Whitespace"},
        "post_processor": None,
        "decoder": None,
        "model": {
            "type": "BPE",
            "dropout": None,
            "unk_token": None,
            "continuing_subword_prefix": None,
            "end_of_word_suffix": MARKER,
            "fuse_unk": False,
            "byte_fallback": False,
            "vocab": {tok: i for i, tok in enumerate(vocab)},
            "merges": [f"{l} {r}" for l, r in merges],
        },
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
