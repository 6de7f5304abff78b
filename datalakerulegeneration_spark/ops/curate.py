"""End-to-end corpus curation: the flagship training-data pipeline.

Chains the individual operators this package provides into the
standard pretraining-corpus assembly line, all in ONE lazy plan:

  1. score    — quality + fingerprint + token count folded into the
                FIRST scan (column expressions, not joined passes)
  2. filter   — drop documents below the quality threshold
  3. dedup    — keep the lowest id per exact fingerprint (window)
  4. decon    — anti-join against the held-out eval set's fingerprints
                (eval side is tiny → broadcast; the corpus never
                shuffles for this step)
  5. rebalance— cap any source at ``cap_share`` of the surviving
                corpus by deterministic hash-downsampling
  6. pack     — GPT-style sequence packing of the survivors' token
                stream into ``seq_len`` windows

Every stage is deterministic integer/hash arithmetic, so the WHOLE
pipeline has an exact DuckDB oracle (:func:`curate_corpus_sql`).

Scale notes: the text column is scanned once (stage 1); dedup is one
fingerprint-keyed shuffle; decon is a broadcast anti-join; rebalance
is a group-count broadcast + map filter; packing is the two-level
prefix sum (no global sort). Peak shuffled state is O(rows), with
rows already stripped to (id, source, fingerprint, n_tokens).
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datalakerulegeneration_spark.materialize import checkpoint, persist
from datalakerulegeneration_spark.ops import packing, sampling, textqa


def _check_domain_args(url_col, blocked_domains, max_per_domain) -> None:
    """The domain stage needs BOTH a URL column and an action; a
    partial spec silently curating nothing is the failure mode the r8
    advice flagged (both engines shared the hole, so the oracle gate
    could never catch it)."""
    if url_col is None and (blocked_domains or max_per_domain is not None):
        raise ValueError(
            "blocked_domains/max_per_domain require url_col to name the URL column"
        )
    if url_col is not None and not blocked_domains and max_per_domain is None:
        raise ValueError(
            "url_col given but neither blocked_domains nor max_per_domain — "
            "the domain stage would be a no-op"
        )


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    eval_mod: int = 37,
    quality_min: float = 0.5,
    cap_share: float = 0.03,
    seq_len: int = 2048,
    materialize_manifest: bool = False,
    near_dup_threshold: float | None = None,
    quality_fn=None,
    token_budget: int | None = None,
    sft_max_tokens: int | None = None,
    ccnet_lang: str | None = None,
    ccnet_materialize: bool | Literal["persist"] = True,
    url_col: str | None = None,
    blocked_domains=None,
    max_per_domain: int | None = None,
) -> DataFrame:
    """Run the full curation pipeline; returns the training manifest
    (id, source group, token weight, stream offset, first/last pack).

    ``quality_fn`` swaps the stage-1 quality signal: given the text
    column name it returns the scoring Column (default:
    ``textqa.quality_col`` — the heuristic). Pass a closure over a
    trained model's scores (e.g. broadcast-join ``ops.quality_model``
    probabilities first and return that column) to curate with a
    LEARNED filter; every downstream stage is unchanged. The exact
    DuckDB oracle applies to the default heuristic only.

    The eval set is the stand-in "every ``eval_mod``-th document" (the
    same convention as the standalone decontamination query); a real
    deployment passes its eval corpus through the same fingerprint
    expression. The rebalance cap is relative to the ORIGINAL corpus
    size (a metadata-only count), not the surviving subset — which
    also keeps the total off the re-derivation path.

    ``materialize_manifest=True`` persists the thin post-curation
    manifest (id, group, token count — no text) before packing: at
    lake scale this collapses the two packing passes and the curation
    chain to one text scan total, at the cost of caching ~24 bytes/row.
    The default stays pure-lazy so prepared plans hold no executor
    memory.

    ``near_dup_threshold`` (e.g. 0.2) inserts MinHash-LSH near-dedup
    as stage 0.5: duplicate components are computed over the raw
    corpus (banded LSH candidates → exact-Jaccard verify → min-label
    propagation) and only each component's minimum-id representative
    enters the pipeline. Exact dedup (stage 3) still runs — it catches
    byte-identical texts the shingle threshold might ignore.

    ``token_budget`` adds stage 5.5 — "curate, then keep the best N
    tokens": after rebalancing, :func:`ops.sampling.token_budget_select`
    keeps the greedy best-quality prefix whose cumulative token count
    stays under the budget, and only those documents are packed. The
    selection reuses the quality score stage 1 already computed (no
    re-scan) and the two-level banded cumulative sums (no global sort);
    the exact oracle gains one windowed CTE.

    ``sft_max_tokens`` swaps the OUTPUT stage: instead of concat-order
    packing (the pretraining manifest), survivors go through
    :func:`ops.packing.length_bucket_batches` — the SFT manifest
    ``(id, grp, weight, bucket, batch_idx)`` where each batch pads to
    its bucket ceiling within the cost cap. Same curation stages, same
    exactness; only the batch-assembly convention changes.

    ``ccnet_lang`` (e.g. ``"en"``) prepends the CCNet recipe (Wenzek
    et al. 2020) as stage 0.25: corpus line-level dedup
    (:func:`ops.textqa.common_line_dedup` — boilerplate lines occurring
    in ≥2 documents removed, fully-boilerplate docs dropped) → keep
    documents :func:`ops.textqa.language_id` assigns the target
    language → perplexity partition the survivors
    (:func:`ops.textqa.ccnet_buckets`, LM-logprob proxy) and keep the
    head+middle buckets (``bucket >= 1`` of 3 — CCNet's standard
    training slice). The standard chain then runs on the CLEANED text
    (fingerprints, quality, token counts — all post-line-dedup, the
    grain CCNet publishes). Composable with the other variants; all of
    it stays inside the exact DuckDB oracle. Scale shape: one
    line-grain explode + the bucket quantiles (distinct-value grain);
    ``ccnet_materialize`` (default True — CCNet pipelines materialize
    shards between stages) materializes the stage boundaries with a
    LAZY ``localCheckpoint`` (r13: ``eager=False`` — constructing the
    frame no longer executes anything; the checkpoint materializes at
    the first action and is then shared by every consumer) so the
    downstream chain's three consuming branches (d0 / eval / total)
    don't each re-derive the explode+LM+quantile subtree (measured 3×
    the plan's fixed cost when lazy) AND don't re-ANALYZE its plan: a
    plain ``persist`` caches the rows but every downstream branch
    still carries the whole upstream lineage through
    analysis/optimization/AQE — measured 7.5→1.9 s on the post-rebuild
    chain at sf0.1 for identical cached data (guide §5:
    localCheckpoint cuts lineage when fault tolerance of the
    intermediate is not critical; a production run materializes shards
    durably between stages — the same boundary, written to storage).
    **Cluster caveat**: checkpointed blocks are executor-local with no
    lineage — under dynamic allocation / executor loss the downstream
    job fails instead of recomputing; pass ``"persist"`` to keep a
    recomputable cached boundary (rows cached, lineage kept), or
    ``False`` for a pure-lazy plan holding no executor memory.

    ``url_col`` + ``blocked_domains`` / ``max_per_domain`` prepend the
    domain stage (0.1, before everything): drop documents whose
    registered domain is blocklisted (``ops.domains.blocklist_filter``
    — broadcast anti-join), then cap every domain at N documents
    (``ops.domains.domain_cap`` — map-side WindowGroupLimit). The
    CommonCrawl-curation opener, composable with every other variant;
    extraction is map-side expression work riding the first scan.
    """
    _check_domain_args(url_col, blocked_domains, max_per_domain)
    if url_col is not None:
        from datalakerulegeneration_spark.ops import domains as _domains

        if blocked_domains:
            docs = _domains.blocklist_filter(docs, url_col, blocked_domains)
        if max_per_domain is not None:
            docs = _domains.domain_cap(docs, id_col, url_col, max_per_domain)
    if ccnet_lang is not None:
        ld = textqa.common_line_dedup(docs, id_col, text_col)
        cleaned = ld.where(F.col("n_kept") > 0).select("id", "cleaned_text")
        if ccnet_materialize:
            # the line-grain explode subtree feeds langs, the bucket
            # LM (which consumes it several times internally), and the
            # rebuild join — unpersisted it re-derives per consumer
            # even inside the one rebuilt-corpus materialization
            # (measured 19× for the sf10 decade; ~linear persisted).
            # persist (lazy), NOT localCheckpoint: the intermediates
            # materialize as overlapping stages of the one rebuilt
            # checkpoint job below; eager per-stage checkpoints were
            # measured SLOWER (serialized jobs, and DataFrame
            # localCheckpoint materializes through the non-AQE plan)
            cleaned = persist(cleaned)
        # r12: the language gate is a row-local expression, so filter
        # the (unique-id) cleaned frame directly — identical rows to
        # the previous inner join against language_id's (id) frame,
        # minus one join stage (guide §2.4: remove shuffles outright).
        ckept = cleaned.withColumn(
            "_lang", textqa.language_pred_col("cleaned_text")
        ).where(F.col("_lang") == ccnet_lang).select("id", "cleaned_text")
        if ccnet_materialize:
            ckept = persist(ckept)
        cids = (
            textqa.ccnet_buckets(
                ckept, "id", "cleaned_text", materialize_scores=ccnet_materialize
            )
            .where(F.col("bucket") >= 1)
            .select("id")
        )
        # rebuild the corpus: original ids/groups, CLEANED text — the
        # downstream stages and the cap total all see the CCNet slice
        docs = (
            docs.select(F.col(id_col), F.col(group_col))
            .join(ckept.withColumnRenamed("id", id_col), id_col)
            .join(cids.withColumnRenamed("id", id_col), id_col)
            .withColumnRenamed("cleaned_text", text_col)
        )
        if ccnet_materialize == "persist":
            # recomputable boundary for dynamic-allocation clusters:
            # rows cached, lineage kept (slower re-analysis per branch
            # is the documented trade)
            docs = persist(docs)
        elif ccnet_materialize:
            # the ONE lineage cut: the rebuilt corpus feeds the whole
            # downstream chain (d0 / eval / total and their stages) —
            # with a plain persist every downstream branch re-analyzes
            # the explode+LM+quantile lineage (measured 7.5 s → 1.9 s
            # post-rebuild at sf0.1 for identical cached rows); the
            # intermediates above stay lazy persists and materialize
            # as overlapping stages of this checkpoint's job. r13:
            # eager=False — the builder stays lazy (ADVICE r12), the
            # checkpoint materializes once at the first action.
            docs = checkpoint(docs)
    if near_dup_threshold is not None:
        from datalakerulegeneration_spark.ops import dedup

        pairs = dedup.minhash_dedup(
            docs, id_col, text_col, threshold=near_dup_threshold, expand="star"
        )
        comps = dedup.dup_components(pairs)
        nd_drop = comps.where(F.col("id") != F.col("component")).select(
            F.col("id").alias("_nd_id")
        )
        # shuffle_hash hint, build on the drop list: it scales with the
        # corpus dup rate, so neither a static broadcast (Catalyst's
        # estimate of this multi-join subtree is meaningless — the sf10
        # audit caught it broadcasting such frames) nor an unhinted plan
        # is safe; a keyed shuffle join holds at any drop-list size
        docs = docs.join(
            nd_drop.hint("shuffle_hash"),
            docs[id_col] == nd_drop["_nd_id"],
            "left_anti",
        )
    # Spark re-derives a lazy subtree once PER CONSUMING BRANCH, so the
    # pipeline is shaped to keep branches few and thin: the eval side
    # filters the RAW table (not the scored chain), the rebalance cap
    # is "cap_share of the ORIGINAL corpus" so the total is a
    # metadata-only count(*) branch, per-group survivor counts ride a
    # window (no aggregate+join re-derivation of the dedup chain), and
    # packing carries the group column through instead of joining back.
    q_col = (quality_fn or textqa.quality_col)(text_col)
    d0 = docs.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        q_col.alias("quality"),
        textqa.fingerprint_col(text_col).alias("fp"),
        textqa.ntokens_col(text_col).alias("n_tokens"),
    )
    d1 = d0.where(F.col("quality") >= quality_min)
    # r12: exact dedup as a hash aggregate instead of a sort window —
    # min(struct(id, ...)) picks the min-id row per fingerprint (id is
    # the first struct field and unique, so the comparison never
    # reaches the other fields): identical survivors, but the partial
    # (map-side) aggregation ships one candidate row per fingerprint
    # per mapper instead of every row through the window's sort
    # (guide §2.3: aggregate before you shuffle).
    d2 = (
        d1.groupBy("fp")
        .agg(F.min(F.struct("id", "grp", "quality", "n_tokens")).alias("_s"))
        .select("fp", "_s.id", "_s.grp", "_s.quality", "_s.n_tokens")
    )
    eval_fps = (
        docs.where(F.col(id_col) % eval_mod == 0)
        .select(textqa.fingerprint_col(text_col).alias("eval_fp"))
        .distinct()
    )
    # the budget stage ranks by the stage-1 quality score — carry it
    # through instead of re-deriving (which would re-scan text)
    thin_cols = ["id", "grp", "n_tokens"] + (
        ["quality"] if token_budget is not None else []
    )
    d3 = (
        d2.join(F.broadcast(eval_fps), d2["fp"] == eval_fps["eval_fp"], "left_anti")
        .select(*thin_cols)
    )
    total = docs.agg(F.count(F.lit(1)).alias("_total"))
    # floor ≥ 1: a tiny corpus must not collapse to cap 0 and emit an
    # empty manifest
    cap_n = F.greatest(
        F.lit(1), F.floor(F.lit(cap_share) * F.col("_total")).cast("bigint")
    )
    keep = (F.col("_grp_n") <= cap_n) | (
        sampling._hash_bucket("id", "rebalance") * F.col("_grp_n")
        < cap_n * F.lit(sampling._BUCKETS)
    )
    d4 = (
        d3.withColumn("_grp_n", F.count(F.lit(1)).over(Window.partitionBy("grp")))
        .crossJoin(F.broadcast(total))
        .where(keep)
        .select(*thin_cols)
    )
    if token_budget is not None:
        d4 = sampling.token_budget_select(
            d4, "id", "n_tokens", "quality", token_budget
        ).select("id", "grp", "n_tokens")
    if materialize_manifest:
        d4 = persist(d4)
    if sft_max_tokens is not None:
        # grp rides carry_cols — no join-back re-deriving the chain
        return packing.length_bucket_batches(
            d4, "id", "n_tokens", sft_max_tokens, carry_cols=("grp",)
        )
    return packing.pack_sequences(d4, "id", "n_tokens", seq_len, carry_cols=("grp",))


FUNNEL_STAGES = ("raw", "quality", "exact_dedup", "decontaminate", "rebalance")
BUDGET_STAGE = "token_budget"


def curation_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    eval_mod: int = 37,
    quality_min: float = 0.5,
    cap_share: float = 0.03,
    token_budget: int | None = None,
    n_bands: int = 64,
) -> DataFrame:
    """Pipeline observability: how many documents/tokens survive each
    curation stage — ``(stage_idx, stage, n_docs, n_tokens)``, one row
    per stage of :func:`curate_corpus` (raw → quality → exact dedup →
    decontaminate → rebalance).

    The naive funnel counts each stage's output separately, which lazy
    Spark would answer by RE-DERIVING the chain once per stage — five
    text scans. This computes per-document SURVIVAL FLAGS in one pass
    (each stage's filter becomes a conditional window over the same
    frame: min-id-per-fingerprint for dedup, a conditional per-group
    count for the rebalance cap), then one wide aggregate unpivoted to
    stage rows — ONE text scan at any corpus size. Flag semantics are
    the exact stage predicates of curate_corpus, so stage 4's counts
    equal the manifest the pipeline emits.

    ``token_budget`` appends the stage-5.5 row (see
    :func:`curate_corpus`): survival = the greedy best-quality prefix
    of rebalance survivors whose cumulative tokens fit the budget. The
    flag rides the same frame via the two-level banded cumulative sums
    of ``token_budget_select`` (band windows + an ``n_bands``-row
    offset frame) — still one text scan, still no global sort.
    """
    d0 = docs.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        textqa.quality_col(text_col).alias("quality"),
        textqa.fingerprint_col(text_col).alias("fp"),
        textqa.ntokens_col(text_col).alias("n_tokens"),
    )
    eval_fps = (
        docs.where(F.col(id_col) % eval_mod == 0)
        .select(textqa.fingerprint_col(text_col).alias("eval_fp"))
        .distinct()
    )
    total = docs.agg(F.count(F.lit(1)).alias("_total"))
    cap_n = F.greatest(
        F.lit(1), F.floor(F.lit(cap_share) * F.col("_total")).cast("bigint")
    )
    s1 = F.col("quality") >= quality_min
    fp_min = F.min(F.when(s1, F.col("id"))).over(Window.partitionBy("fp"))
    s2 = s1 & (F.col("id") == fp_min)
    flagged = (
        d0.join(F.broadcast(eval_fps), d0["fp"] == F.col("eval_fp"), "left")
        .withColumn("s2", s2)
        .withColumn("s3", F.col("s2") & F.col("eval_fp").isNull())
    )
    grp_n = F.count(F.when(F.col("s3"), F.lit(1))).over(Window.partitionBy("grp"))
    keep = (F.col("_grp_n") <= cap_n) | (
        sampling._hash_bucket("id", "rebalance") * F.col("_grp_n")
        < cap_n * F.lit(sampling._BUCKETS)
    )
    flagged = (
        flagged.withColumn("_grp_n", grp_n)
        .crossJoin(F.broadcast(total))
        .withColumn("s4", F.col("s3") & keep)
    )
    stages = list(FUNNEL_STAGES)
    conds = [F.lit(True), s1, F.col("s2"), F.col("s3"), F.col("s4")]
    if token_budget is not None:
        # stage-5.5 flag via the two-level banded prefix sums (same
        # construction as token_budget_select, inlined so non-survivor
        # rows consume no budget): cumulative weight of s4 rows
        # STRICTLY better than this row, within-band + higher-band.
        w_eff = F.when(F.col("s4"), F.col("n_tokens")).otherwise(F.lit(0))
        band = F.least(
            F.lit(n_bands - 1), F.floor(F.col("quality") * n_bands).cast("int")
        )
        flagged = flagged.withColumn("_band", band).withColumn("_weff", w_eff)
        wb = (
            Window.partitionBy("_band")
            .orderBy(F.col("quality").desc(), F.col("id").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        flagged = flagged.withColumn(
            "_within", F.coalesce(F.sum("_weff").over(wb), F.lit(0))
        )
        # n_bands-row frame; cumulative over HIGHER bands only
        woff = Window.orderBy(F.col("_oband").desc()).rowsBetween(
            Window.unboundedPreceding, -1
        )
        boff = (
            flagged.groupBy(F.col("_band").alias("_oband"))
            .agg(F.sum("_weff").alias("_bw"))
            .withColumn("_off", F.coalesce(F.sum("_bw").over(woff), F.lit(0)))
            .select("_oband", "_off")
        )
        flagged = flagged.join(
            F.broadcast(boff), F.col("_band") == F.col("_oband")
        ).withColumn(
            "s5",
            F.col("s4")
            & (
                F.col("_off") + F.col("_within") + F.col("n_tokens")
                <= F.lit(token_budget)
            ),
        )
        stages.append(BUDGET_STAGE)
        conds.append(F.col("s5"))
    aggs = []
    for k, cond in enumerate(conds):
        aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"nd_{k}"))
        aggs.append(
            F.coalesce(F.sum(F.when(cond, F.col("n_tokens"))), F.lit(0)).alias(f"nt_{k}")
        )
    wide = flagged.agg(*aggs)
    stack = ", ".join(
        f"{k}L, '{name}', nd_{k}, nt_{k}" for k, name in enumerate(stages)
    )
    return wide.selectExpr(
        f"stack({len(stages)}, {stack})"
        " as (stage_idx, stage, n_docs, n_tokens)"
    )


DOMAIN_STAGES = ("raw", "blocklist", "domain_cap")


def curation_funnel_domains(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    url_col: str = "url",
    blocked_domains=(),
    max_per_domain: int = 5,
    eval_mod: int = 37,
    quality_min: float = 0.5,
    cap_share: float = 0.03,
) -> DataFrame:
    """Funnel audit for the domain flagship variant: blocklist and
    per-domain-cap stage rows prepended to the standard one-scan flag
    funnel over the domain-guarded corpus — ``(stage_idx, stage,
    n_docs, n_tokens)``. The domain stages don't rewrite text, so all
    rows count tokens at the raw grain."""
    from datalakerulegeneration_spark.ops import domains as _domains

    blocked = (
        _domains.blocklist_filter(docs, url_col, blocked_domains)
        if blocked_domains
        else docs
    )
    capped = _domains.domain_cap(blocked, id_col, url_col, max_per_domain)

    def stage_row(idx: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(idx).cast("bigint").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(textqa.ntokens_col(text_col)), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )

    head = (
        stage_row(0, DOMAIN_STAGES[0], docs)
        .unionByName(stage_row(1, DOMAIN_STAGES[1], blocked))
        .unionByName(stage_row(2, DOMAIN_STAGES[2], capped))
    )
    tail = curation_funnel(
        capped, id_col, text_col, group_col, eval_mod, quality_min, cap_share
    ).where(F.col("stage_idx") >= 1)  # its 'raw' row equals domain_cap
    return head.unionByName(
        tail.select(
            (F.col("stage_idx") + 2).alias("stage_idx"), "stage", "n_docs", "n_tokens"
        )
    )


def curation_funnel_domains_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    url_col: str = "url",
    blocked_domains=(),
    max_per_domain: int = 5,
    eval_mod: int = 37,
    quality_min: float = 0.5,
    cap_share: float = 0.03,
) -> str:
    """DuckDB oracle for :func:`curation_funnel_domains`."""
    from datalakerulegeneration_spark.ops import domains as _domains

    nt = textqa.ntokens_sql_expr(text_col)
    src = table
    ctes = []
    if blocked_domains:
        bl = _domains.blocklist_filter_sql(
            src, url_col, blocked_domains, select_cols="* EXCLUDE (domain)"
        ).strip()
        ctes.append(f"dmb AS ({bl})")
        src = "dmb"
    cap = _domains.domain_cap_sql(
        src, id_col, url_col, max_per_domain, select_cols="* EXCLUDE (domain, _psl_rn)"
    ).strip()
    ctes.append(f"dmc AS ({cap})")
    tail = curation_funnel_sql(
        "dmc", id_col, text_col, group_col, eval_mod, quality_min, cap_share
    ).strip()
    ctes.append(f"tail AS ({tail})")
    return f"""
WITH {", ".join(ctes)}
SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(sum({nt}), 0) AS BIGINT) AS n_tokens FROM {table}
UNION ALL
SELECT CAST(1 AS BIGINT), 'blocklist', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum({nt}), 0) AS BIGINT) FROM {"dmb" if blocked_domains else table}
UNION ALL
SELECT CAST(2 AS BIGINT), 'domain_cap', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum({nt}), 0) AS BIGINT) FROM dmc
UNION ALL
SELECT stage_idx + 2, stage, n_docs, n_tokens FROM tail WHERE stage_idx >= 1
"""


CCNET_STAGES = ("raw", "line_dedup", "language", "ccnet_ppl")


def curation_funnel_ccnet(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    ccnet_lang: str = "en",
    eval_mod: int = 37,
    quality_min: float = 0.5,
    cap_share: float = 0.03,
) -> DataFrame:
    """Funnel audit for the CCNet flagship variant: the three CCNet
    stage rows (line dedup → language keep → perplexity head+middle)
    prepended to the standard funnel over the rebuilt corpus —
    ``(stage_idx, stage, n_docs, n_tokens)`` with token counts at the
    grain each stage sees (raw tokens for stage 0, post-line-dedup
    tokens from stage 1 on).

    Unlike :func:`curation_funnel`'s single-scan flag construction,
    the CCNet head rows aggregate successively filtered frames of the
    line-dedup subtree; the cleaned frame is persisted (it feeds four
    stage rows plus the shifted tail funnel — the same materialization
    choice as ``curate_corpus(ccnet_materialize=True)``); the standard
    stages still ride the one-scan flag funnel, shifted by the three
    CCNet stages."""
    ld = textqa.common_line_dedup(docs, id_col, text_col)
    cleaned = persist(ld.where(F.col("n_kept") > 0).select("id", "cleaned_text"))
    # r12: row-local language gate as a filter — see curate_corpus
    ckept = persist(
        cleaned.withColumn("_lang", textqa.language_pred_col("cleaned_text"))
        .where(F.col("_lang") == ccnet_lang)
        .select("id", "cleaned_text")
    )
    cids = (
        textqa.ccnet_buckets(ckept, "id", "cleaned_text", materialize_scores=True)
        .where(F.col("bucket") >= 1)
        .select("id")
    )
    # rebuilt feeds the ppl stage row + the tail funnel's branches:
    # localCheckpoint cuts the lineage so those branches stop
    # re-analyzing the explode+LM+quantile subtree per branch; the
    # persisted intermediates above materialize as overlapping stages
    # of this one checkpoint job (see curate_corpus's note)
    # lazy (r13): materializes at the first stage-row action and is
    # shared by the ppl row + the tail funnel's branches
    rebuilt = checkpoint(
        docs.select(F.col(id_col), F.col(group_col))
        .join(ckept.withColumnRenamed("id", id_col), id_col)
        .join(cids.withColumnRenamed("id", id_col), id_col)
        .withColumnRenamed("cleaned_text", text_col)
    )

    def stage_row(idx: int, name: str, frame: DataFrame, tcol: str) -> DataFrame:
        return frame.agg(
            F.lit(idx).cast("bigint").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(textqa.ntokens_col(tcol)), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )

    head = (
        stage_row(0, CCNET_STAGES[0], docs, text_col)
        .unionByName(stage_row(1, CCNET_STAGES[1], cleaned, "cleaned_text"))
        .unionByName(stage_row(2, CCNET_STAGES[2], ckept, "cleaned_text"))
        .unionByName(stage_row(3, CCNET_STAGES[3], rebuilt, text_col))
    )
    tail = curation_funnel(
        rebuilt, id_col, text_col, group_col, eval_mod, quality_min, cap_share
    ).where(F.col("stage_idx") >= 1)  # its 'raw' row equals ccnet_ppl
    return head.unionByName(
        tail.select(
            (F.col("stage_idx") + 3).alias("stage_idx"), "stage", "n_docs", "n_tokens"
        )
    )


def curation_funnel_ccnet_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    ccnet_lang: str = "en",
    eval_mod: int = 37,
    quality_min: float = 0.5,
    cap_share: float = 0.03,
) -> str:
    """DuckDB oracle for :func:`curation_funnel_ccnet`."""
    ld_sql = textqa.common_line_dedup_sql(table, id_col, text_col).strip()
    lang_sql = textqa.language_id_sql("cleaned", "id", "cleaned_text").strip()
    cb_sql = textqa.ccnet_buckets_sql("ckept", "id", "cleaned_text").strip()
    tail_sql = curation_funnel_sql(
        "ccbase", id_col, text_col, group_col, eval_mod, quality_min, cap_share
    ).strip()
    nt_raw = textqa.ntokens_sql_expr(text_col)
    nt_clean = textqa.ntokens_sql_expr("cleaned_text")
    return f"""
WITH ld AS MATERIALIZED ({ld_sql}),
cleaned AS MATERIALIZED (SELECT id, cleaned_text FROM ld WHERE n_kept > 0),
langs AS MATERIALIZED ({lang_sql}),
ckept AS MATERIALIZED (
  SELECT c.id, c.cleaned_text FROM cleaned c
  JOIN langs ON langs.id = c.id AND langs.lang_pred = '{ccnet_lang}'
),
cb AS MATERIALIZED ({cb_sql}),
cids AS MATERIALIZED (SELECT id FROM cb WHERE bucket >= 1),
ccbase AS MATERIALIZED (
  SELECT t.{id_col} AS {id_col}, t.{group_col} AS {group_col},
         c.cleaned_text AS {text_col}
  FROM {table} t
  JOIN ckept c ON t.{id_col} = c.id
  JOIN cids ON cids.id = c.id
),
tail AS MATERIALIZED ({tail_sql})
SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(sum({nt_raw}), 0) AS BIGINT) AS n_tokens FROM {table}
UNION ALL
SELECT CAST(1 AS BIGINT), 'line_dedup', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum({nt_clean}), 0) AS BIGINT) FROM cleaned
UNION ALL
SELECT CAST(2 AS BIGINT), 'language', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum({nt_clean}), 0) AS BIGINT) FROM ckept
UNION ALL
SELECT CAST(3 AS BIGINT), 'ccnet_ppl', CAST(count(*) AS BIGINT),
       CAST(COALESCE(sum({nt_raw}), 0) AS BIGINT) FROM ccbase
UNION ALL
SELECT stage_idx + 3, stage, n_docs, n_tokens FROM tail WHERE stage_idx >= 1
"""


def curation_funnel_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    eval_mod: int = 37,
    quality_min: float = 0.5,
    cap_share: float = 0.03,
    token_budget: int | None = None,
) -> str:
    """DuckDB oracle for :func:`curation_funnel` (same survival-flag
    construction; stages as a UNION ALL of conditional aggregates;
    the budget flag as one global window — oracles don't need the
    two-level shape)."""
    buckets = sampling._BUCKETS
    reb_hash = sampling._hash_bucket_sql("f.id", "rebalance")
    stages = list(FUNNEL_STAGES)
    conds = ["TRUE", "s1", "s2", "s3", "s4"]
    src = "f"
    budget_cte = ""
    if token_budget is not None:
        stages.append(BUDGET_STAGE)
        conds.append("s5")
        src = "fb"
        budget_cte = f""",
fb AS MATERIALIZED (
  SELECT f.*, s4 AND COALESCE(sum(CASE WHEN s4 THEN n_tokens ELSE 0 END)
      OVER (ORDER BY quality DESC, id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + n_tokens <= {token_budget} AS s5
  FROM f
)"""
    selects = []
    for k, (name, cond) in enumerate(zip(stages, conds)):
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS stage_idx, '{name}' AS stage,"
            f" CAST(count(CASE WHEN {cond} THEN 1 END) AS BIGINT) AS n_docs,"
            f" CAST(COALESCE(sum(CASE WHEN {cond} THEN n_tokens END), 0) AS BIGINT) AS n_tokens"
            f" FROM {src}"
        )
    return f"""
WITH d0 AS MATERIALIZED (
  SELECT {id_col} AS id, {group_col} AS grp,
         {textqa.quality_sql_expr(text_col)} AS quality,
         {textqa.fingerprint_sql_expr(text_col)} AS fp,
         {textqa.ntokens_sql_expr(text_col)} AS n_tokens
  FROM {table}
),
eval_fps AS (
  SELECT DISTINCT {textqa.fingerprint_sql_expr(text_col)} AS eval_fp
  FROM {table} WHERE {id_col} % {eval_mod} = 0
),
tot AS (
  SELECT greatest(1, CAST(floor(CAST({cap_share} AS DOUBLE) * count(*)) AS BIGINT)) AS cap_n FROM {table}
),
flags AS (
  SELECT d0.*, (quality >= {quality_min}) AS s1,
         (quality >= {quality_min}) AND id = min(CASE WHEN quality >= {quality_min} THEN id END)
             OVER (PARTITION BY fp) AS s2
  FROM d0
),
flags3 AS (
  -- NOT EXISTS, not NOT IN: a NULL eval fingerprint (NULL text in the
  -- eval slice) makes NOT IN evaluate UNKNOWN for EVERY row, zeroing
  -- stages 3-4; NOT EXISTS has the anti-join semantics the Spark side
  -- (left join + isNull) implements
  SELECT flags.*,
         s2 AND NOT EXISTS (
           SELECT 1 FROM eval_fps WHERE eval_fps.eval_fp = flags.fp
         ) AS s3
  FROM flags
),
f AS MATERIALIZED (
  SELECT f.*, f.s3 AND (grp_n <= tot.cap_n OR {reb_hash} * grp_n < tot.cap_n * {buckets}) AS s4
  FROM (
    SELECT flags3.*, count(CASE WHEN s3 THEN 1 END) OVER (PARTITION BY grp) AS grp_n
    FROM flags3
  ) f CROSS JOIN tot
){budget_cte}
{" UNION ALL ".join(selects)}
"""


def curate_corpus_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    eval_mod: int = 37,
    quality_min: float = 0.5,
    cap_share: float = 0.03,
    seq_len: int = 2048,
    near_dup_threshold: float | None = None,
    token_budget: int | None = None,
    sft_max_tokens: int | None = None,
    ccnet_lang: str | None = None,
    url_col: str | None = None,
    blocked_domains=None,
    max_per_domain: int | None = None,
    quality_sql_expr: str | None = None,
) -> str:
    """Exact DuckDB oracle for :func:`curate_corpus` — the same six
    stages as CTEs (the oracle may run sequentially; only the Spark
    side must scale). ``quality_sql_expr`` mirrors the Spark side's
    ``quality_fn`` seam (r9): an inline DuckDB expression over
    ``text_col`` replacing the heuristic stage-1 score — pass
    ``quality_model.frozen_prob_sql_expr(text_col)`` to put a TRAINED
    frozen classifier inside the exact end-to-end oracle. With ``near_dup_threshold`` the base corpus is
    first reduced to MinHash-component representatives via a recursive
    CTE over the same banded-LSH pair query the Spark side runs.
    With ``token_budget`` a greedy budget-selection CTE (single global
    window — oracles don't need the two-level shape) sits between
    rebalance and packing, mirroring stage 5.5. With ``ccnet_lang``
    the line-dedup → language-keep → perplexity-bucket CTEs rebuild
    the base corpus first, mirroring stage 0.25. With ``url_col`` +
    blocklist/cap the domain CTEs run before everything, mirroring
    stage 0.1."""
    buckets = sampling._BUCKETS
    reb_hash = sampling._hash_bucket_sql("d3.id", "rebalance")
    pack_hash = sampling._hash_bucket_sql("id", "pack")
    _check_domain_args(url_col, blocked_domains, max_per_domain)
    dom_prefix = ""
    if url_col is not None:
        from datalakerulegeneration_spark.ops import domains as _domains

        if blocked_domains:
            bl_sql = _domains.blocklist_filter_sql(
                table, url_col, blocked_domains, select_cols="* EXCLUDE (domain)"
            ).strip()
            dom_prefix += f"dmb AS ({bl_sql}),\n"
            table = "dmb"
        if max_per_domain is not None:
            cap_sql = _domains.domain_cap_sql(
                table,
                id_col,
                url_col,
                max_per_domain,
                select_cols="* EXCLUDE (domain, _psl_rn)",
            ).strip()
            dom_prefix += f"dmc AS ({cap_sql}),\n"
            table = "dmc"
    ccnet_prefix = ""
    if ccnet_lang is not None:
        ld_sql = textqa.common_line_dedup_sql(table, id_col, text_col).strip()
        lang_sql = textqa.language_id_sql("cleaned", "id", "cleaned_text").strip()
        cb_sql = textqa.ccnet_buckets_sql("ckept", "id", "cleaned_text").strip()
        ccnet_prefix = f"""ld AS ({ld_sql}),
cleaned AS (SELECT id, cleaned_text FROM ld WHERE n_kept > 0),
langs AS ({lang_sql}),
ckept AS (
  SELECT c.id, c.cleaned_text FROM cleaned c
  JOIN langs ON langs.id = c.id AND langs.lang_pred = '{ccnet_lang}'
),
cb AS ({cb_sql}),
cids AS (SELECT id FROM cb WHERE bucket >= 1),
ccbase AS (
  SELECT t.{id_col} AS {id_col}, t.{group_col} AS {group_col},
         c.cleaned_text AS {text_col}
  FROM {table} t
  JOIN ckept c ON t.{id_col} = c.id
  JOIN cids ON cids.id = c.id
),
"""
        table = "ccbase"
    nd_prefix = ""
    if near_dup_threshold is not None:
        from datalakerulegeneration_spark.ops import dedup

        pairs_sql = dedup.minhash_dedup_sql(
            table, id_col, text_col, threshold=near_dup_threshold
        ).strip()
        nd_prefix = f"""nd AS ({pairs_sql}),
sym AS (
  SELECT CAST(id_a AS BIGINT) AS src, CAST(id_b AS BIGINT) AS dst FROM nd
  UNION
  SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT) FROM nd
),
reach(v, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT sym.src, reach.r FROM sym JOIN reach ON sym.dst = reach.v
),
nd_drop AS (SELECT v AS id FROM reach GROUP BY v HAVING v <> min(r)),
base AS (
  SELECT t.* FROM {table} t ANTI JOIN nd_drop ON t.{id_col} = nd_drop.id
),
"""
        table = "base"
    if token_budget is not None:
        budget_cte = f"""d5 AS (
  SELECT id, grp, n_tokens FROM (
    SELECT d4.*, COALESCE(sum(n_tokens) OVER (ORDER BY quality DESC, id ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _cum
    FROM d4
  ) WHERE _cum + n_tokens <= {token_budget}
),
"""
        pack_src = "d5"
    else:
        budget_cte = ""
        pack_src = "d4"
    if sft_max_tokens is not None:
        from datalakerulegeneration_spark.ops.packing import _CEIL2_SQL

        wexpr = "COALESCE(CAST(n_tokens AS BIGINT), 0)"
        tail = f"""{budget_cte}bsrc AS (
  SELECT id, grp, {wexpr} AS weight,
         {_CEIL2_SQL.format(w=wexpr)} AS bucket,
         {sampling._hash_bucket_sql("id", "batch")} AS h
  FROM {pack_src}
),
br AS (
  SELECT id, grp, weight, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY h, id) AS rnk,
         CAST(floor({sft_max_tokens} / bucket) AS BIGINT) AS bs
  FROM bsrc
)
SELECT id, grp, weight, bucket,
       CASE WHEN bs >= 1 THEN CAST(floor((rnk - 1) / bs) AS BIGINT) END AS batch_idx
FROM br"""
    else:
        tail = f"""{budget_cte}w AS (SELECT id, grp, n_tokens AS weight, {pack_hash} AS h FROM {pack_src}),
o AS (
  SELECT id, grp, weight,
         CAST(COALESCE(sum(weight) OVER (ORDER BY h, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
  FROM w
)
SELECT id, grp, weight, "offset",
       CAST(floor("offset" / {seq_len}) AS BIGINT) AS pack_first,
       CAST(floor(("offset" + greatest(weight, 1) - 1) / {seq_len}) AS BIGINT) AS pack_last
FROM o"""
    # RECURSIVE is a property of the whole WITH list (the nd component
    # reachability CTE), stated once up front regardless of where the
    # nd CTEs sit after the optional ccnet prefix
    with_kw = "WITH RECURSIVE" if near_dup_threshold is not None else "WITH"
    return f"""
{with_kw} {dom_prefix}{ccnet_prefix}{nd_prefix}d0 AS (
  SELECT {id_col} AS id, {group_col} AS grp,
         {quality_sql_expr or textqa.quality_sql_expr(text_col)} AS quality,
         {textqa.fingerprint_sql_expr(text_col)} AS fp,
         {textqa.ntokens_sql_expr(text_col)} AS n_tokens
  FROM {table}
),
d1 AS (SELECT * FROM d0 WHERE quality >= {quality_min}),
d2 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY id ASC) AS rn FROM d1
  ) WHERE rn = 1
),
eval_fps AS (
  SELECT DISTINCT {textqa.fingerprint_sql_expr(text_col)} AS eval_fp
  FROM {table} WHERE {id_col} % {eval_mod} = 0
),
d3 AS (
  SELECT d2.id, d2.grp, d2.n_tokens, d2.quality,
         count(*) OVER (PARTITION BY d2.grp) AS grp_n
  FROM d2 ANTI JOIN eval_fps ON d2.fp = eval_fps.eval_fp
),
tot AS (
  -- CAST: DuckDB parses the literal as DECIMAL, whose exact product
  -- can floor one short of Spark's double arithmetic;
  -- greatest(1,..): tiny corpora must not collapse to cap 0
  SELECT greatest(1, CAST(floor(CAST({cap_share} AS DOUBLE) * count(*)) AS BIGINT)) AS cap_n FROM {table}
),
d4 AS (
  SELECT d3.id, d3.grp, d3.n_tokens, d3.quality FROM d3 CROSS JOIN tot
  WHERE d3.grp_n <= tot.cap_n OR {reb_hash} * d3.grp_n < tot.cap_n * {buckets}
),
{tail}
"""
