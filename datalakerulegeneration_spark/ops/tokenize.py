"""Real-tokenizer seam for token accounting.

Every token-budgeted decision in the pipeline keys off a per-document
token count: ``pack_sequences`` boundaries, ``token_budget_select``
cutoffs, ``corpus_report`` totals, DSIR bucket hashing. The default
count is the deterministic regex subword proxy (alnum runs + isolated
punctuation — RE2-safe, so the DuckDB oracle computes the identical
number and the correctness gate stays exact). A production 100 TB run
budgets in REAL tokenizer tokens; this module is the seam that swap
happens through, following the repo's established model-seam shape
(``profiling/semantic.py`` model_fn, ``ops/curate.py`` quality_fn):

* default (``tokenizer_fn=None``): pure JVM expression — whole-stage
  codegen, no Python, exactly oracle-checkable.
* ``tokenizer_fn`` provided: ONE Arrow-batched ``pandas_udf`` — text
  crosses to Python once per Arrow batch (never per row), counts come
  back as bigint. The fn signature is batch-level,
  ``pd.Series[str] -> Sequence[int]``, so a real tokenizer's batch
  encode API (tiktoken ``encode_batch``, HF ``Tokenizer.encode_batch``)
  maps 1:1 with no per-row Python dispatch.

``default_tokenizer()`` probes, in order: tiktoken, HuggingFace
``tokenizers`` (local tokenizer.json only), then the in-repo BPE
(``ops.bpe`` merges trained by ``bpe_learn`` — the vendored
fixture-corpus merge list ships in ``resources/``), so the REAL-BPE
path runs even in containers without tokenizer libraries; callers
must still handle ``None`` and fall back to the proxy.

Scale note: the pandas_udf path is embarrassingly parallel map-only —
no shuffle, no state — so at 1000 executors it scales with input
splits exactly like the JVM path; its only cost is the Arrow hop and
Python CPU, which is the tokenizer's own cost, not the engine's.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# Batch token-counting fn: Series of document texts (never null — the
# seam fills nulls with "" before calling) -> int token counts, same
# length/order. Batch-level so real tokenizers use their batch encode.
TokenizerFn = Callable[[pd.Series], Sequence[int]]

# The proxy pattern: alnum runs count 1 token each, every other
# non-space char counts 1 — same expression token_count() has always
# used (ops/textqa.py), shared here so Spark and oracle builders agree.
_PROXY_RE = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"


def token_count_col(text_col: str, tokenizer_fn: TokenizerFn | None = None) -> Column:
    """Token count of ``text_col`` as a Column.

    Default is the regex subword proxy (JVM-side, oracle-exact);
    with ``tokenizer_fn`` the count comes from one Arrow-batched
    pandas_udf around the provided batch tokenizer. NULL text yields a
    NULL count on both paths (consumers coalesce, same as the proxy
    contract).
    """
    if tokenizer_fn is None:
        return F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(_PROXY_RE), F.lit(0))
        ).cast("bigint")

    @F.pandas_udf(LongType())
    def _count(s: pd.Series) -> pd.Series:
        out = tokenizer_fn(s.fillna(""))
        return pd.Series(list(out), index=s.index, dtype="int64")

    txt = F.col(text_col)
    return F.when(txt.isNull(), F.lit(None).cast("bigint")).otherwise(_count(txt))


def default_tokenizer(encoding: str = "cl100k_base") -> TokenizerFn | None:
    """Best importable REAL tokenizer as a batch counting fn, or
    ``None`` when only the proxy is available.

    Probes tiktoken first (pure local data files), then HuggingFace
    ``tokenizers`` via a LOCAL tokenizer.json only (no network — a
    from_pretrained hub fetch is deliberately not attempted).
    """
    try:
        import tiktoken

        enc = tiktoken.get_encoding(encoding)

        def _tiktoken_count(s: pd.Series) -> Sequence[int]:
            return [len(t) for t in enc.encode_ordinary_batch(list(s))]

        return _tiktoken_count
    except Exception:  # noqa: BLE001 — probe, not a failure
        pass
    try:
        import os

        from tokenizers import Tokenizer

        local = os.environ.get("SPARK_GRAFT_TOKENIZER_JSON")
        if local and os.path.exists(local):
            tok = Tokenizer.from_file(local)

            def _hf_count(s: pd.Series) -> Sequence[int]:
                return [len(e.ids) for e in tok.encode_batch(list(s))]

            return _hf_count
    except Exception:  # noqa: BLE001
        pass
    # In-repo BPE (ops.bpe): a merge list trained by bpe_learn — REAL
    # byte-pair counting (not the regex proxy) with zero external
    # dependencies. SPARK_GRAFT_BPE_MERGES_JSON points at a merges
    # file; unset, the vendored fixture-corpus tokenizer
    # (resources/fixture_bpe_merges.json, regenerate with
    # tools/train_fixture_bpe.py) is used, so this probe ALWAYS
    # returns a real tokenizer in this repo's CI.
    try:
        import os

        from datalakerulegeneration_spark.ops.bpe import (
            bpe_tokenizer_fn,
            load_merges_json,
        )

        path = os.environ.get("SPARK_GRAFT_BPE_MERGES_JSON") or os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "resources",
            "fixture_bpe_merges.json",
        )
        if os.path.exists(path):
            return bpe_tokenizer_fn(load_merges_json(path))
    except Exception:  # noqa: BLE001
        pass
    return None
