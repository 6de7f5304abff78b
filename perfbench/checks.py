"""Correctness checks computed apart from the program.

Every function takes plain Python values (rows collected from Spark,
frames read with pandas/pyarrow) and returns a list of failure strings;
an empty list means the check passed. Nothing here imports the package
or Spark, so the checks are independent computations or properties the
method must have, not copies of the program's output.
"""

from __future__ import annotations

import math
import os
import re

import pandas as pd

# --- lake ---------------------------------------------------------------


def read_all_string(path: str) -> pd.DataFrame:
    """The all-string, trimmed, no-NA reading the pipeline's CSV ingest
    promises (``catalog.read_csv_all_string``)."""
    df = pd.read_csv(path, dtype=str, keep_default_na=False)
    return df.apply(lambda s: s.str.strip())


def positional_diff(dirty: pd.DataFrame, clean: pd.DataFrame, key: str) -> set:
    """{(row_id, column)} where the dirty cell differs from the clean one."""
    c = clean.set_index(key)
    d = dirty.set_index(key).loc[c.index]
    cols = [x for x in d.columns if x in c.columns]
    ne = d[cols].ne(c[cols])
    return {(r, col) for col in cols for r in ne.index[ne[col].to_numpy()]}


def prf(tp: int, fp: int, fn: int) -> dict:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": p, "recall": r, "f1": f1}


def check_truth(truth: set, expected: set, what: str) -> list[str]:
    """The program's ground-truth cell set equals an independently
    derived one (the injected manifest, or a positional pandas diff)."""
    if truth == expected:
        return []
    return [
        f"{what}: truth has {len(truth - expected)} extra and "
        f"{len(expected - truth)} missing cells"
    ]


def check_metrics(reported: dict, violations: set, truth: set) -> list[str]:
    """tp/fp/fn and P/R/F1 recomputed from the violation and truth sets
    equal the reported ones."""
    want = prf(len(violations & truth), len(violations - truth), len(truth - violations))
    bad = [
        k for k, v in want.items()
        if (reported.get(k) != v if k in ("tp", "fp", "fn")
            else abs(reported.get(k, -1.0) - v) > 1e-12)
    ]
    return [f"metric {k}: reported {reported.get(k)} != recomputed {want[k]}" for k in bad]


def check_values(violations: pd.DataFrame, dirty: pd.DataFrame, key: str) -> list[str]:
    """Every violation's ``value`` is the dirty cell at (row_id, column)."""
    d = dirty.set_index(key)
    bad = [
        (r.row_id, r.column)
        for r in violations.itertuples()
        if r.row_id not in d.index or r.column not in d.columns
        or str(d.at[r.row_id, r.column]) != ("" if r.value is None else r.value)
    ]
    return [f"{len(bad)} violation values differ from the dirty cell, e.g. {bad[:3]}"] if bad else []


def check_range_in_truth(violations: pd.DataFrame, truth: set) -> list[str]:
    """Range rules are trained on the clean column, so every range
    violation is a real error."""
    rng = violations[violations["rule"].str.contains("range", case=False)]
    bad = [(r.row_id, r.column) for r in rng.itertuples() if (r.row_id, r.column) not in truth]
    return [f"{len(bad)} range violations outside the truth set, e.g. {bad[:3]}"] if bad else []


def check_same_rows(a: list[tuple], b: list[tuple], what: str) -> list[str]:
    """Two row multisets are equal (order-free)."""
    if sorted(a, key=repr) == sorted(b, key=repr):
        return []
    return [f"{what}: {len(a)} vs {len(b)} rows, contents differ"]


# --- corpus -------------------------------------------------------------

_WS = re.compile(r"\s+")


def shingle_set(text: str, n: int = 3) -> frozenset:
    """Distinct n-word shingles: lowercase, split on whitespace runs,
    drop empties (the tokenizer the dedup ops document)."""
    toks = [t for t in _WS.split(text.lower()) if t]
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def similar_pairs(shingles: dict, threshold: float) -> list[tuple]:
    """Every pair (a < b) at shingle Jaccard >= threshold, exactly: only
    pairs sharing a shingle can score above 0, so those are scored."""
    posting: dict = {}
    for i, s in shingles.items():
        for x in s:
            posting.setdefault(x, []).append(i)
    cands = {(a, b) for ids in posting.values() for a in ids for b in ids if a < b}
    return sorted(p for p in cands if jaccard(shingles[p[0]], shingles[p[1]]) >= threshold)


def union_find_components(pairs: list[tuple]) -> dict:
    """{id: min id of its connected component} over the pair graph."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_components(components: dict, pairs: list[tuple]) -> list[str]:
    """The program's (id -> component) map equals union-find over
    ``pairs``; given every pair at Jaccard >= threshold, a false edge
    below it merges two components and a lost edge splits one."""
    want = union_find_components(pairs)
    if components == want:
        return []
    diff = [k for k in set(want) | set(components) if want.get(k) != components.get(k)]
    return [f"{len(diff)} ids in a different component than union-find gives, e.g. {diff[:3]}"]


def check_keepers(keepers: list[tuple], components: dict, scores: dict) -> list[str]:
    """One keeper per component, with the top score (ties: lower id),
    and the member count is the component's size."""
    members: dict = {}
    for i, c in components.items():
        members.setdefault(c, []).append(i)
    got = {}
    errs = []
    for comp, keeper, score, n in keepers:
        if comp in got:
            errs.append(f"component {comp} has more than one keeper")
        got[comp] = (keeper, score, n)
    if set(got) != set(members):
        errs.append(f"keepers cover {len(got)} components, union-find has {len(members)}")
    for comp, ids in members.items():
        if comp not in got:
            continue
        best = min(ids, key=lambda i: (-scores[i], i))
        if got[comp] != (best, scores[best], len(ids)):
            errs.append(f"component {comp}: keeper {got[comp]} != {(best, scores[best], len(ids))}")
    return errs[:5]


class NearIndex:
    """Exact "is there a document at Jaccard >= threshold" lookups over
    a growing set of documents, pruned by the prefix filter (Bayardo et
    al., WWW 2007): with shingles in one global order, two sets at
    Jaccard >= t share a token among their first |A| - ceil(t|A|) + 1.
    The order is rarest-first, so prefixes hold rare shingles."""

    def __init__(self, shingles: dict, threshold: float):
        freq: dict = {}
        for s in shingles.values():
            for x in s:
                freq[x] = freq.get(x, 0) + 1
        self.rank = {x: (f, x) for x, f in freq.items()}
        self.shingles = shingles
        self.t = threshold
        self.posting: dict = {}

    def _prefix(self, doc) -> list:
        s = sorted(self.shingles[doc], key=self.rank.__getitem__)
        return s[: len(s) - math.ceil(self.t * len(s)) + 1]

    def add(self, doc) -> None:
        for x in self._prefix(doc):
            self.posting.setdefault(x, []).append(doc)

    def near_earlier(self, doc) -> bool:
        """Whether an added smaller-id document is at Jaccard >= t."""
        sd = self.shingles[doc]
        cands = {k for x in self._prefix(doc) for k in self.posting.get(x, ()) if k < doc}
        return any(jaccard(sd, self.shingles[k]) >= self.t for k in cands)


def greedy_keep(ids: list, shingles: dict, threshold: float) -> set:
    """Ascending-id greedy leader admission: a document is kept iff no
    kept smaller-id document is at Jaccard >= threshold."""
    idx = NearIndex(shingles, threshold)
    kept = set()
    for i in sorted(ids):
        if not idx.near_earlier(i):
            kept.add(i)
            idx.add(i)
    return kept


def check_stream(
    survivors: list, all_ids: list, shingles: dict, threshold: float,
    index_rows: int, bands: int,
) -> list[str]:
    """Survivors and dropped documents partition the input, every
    dropped document has an earlier survivor at Jaccard >= threshold,
    the survivors equal the ascending-id greedy pass, and the band index
    holds ``bands`` rows per survivor."""
    errs = []
    surv = set(survivors)
    if len(surv) != len(survivors):
        errs.append(f"{len(survivors) - len(surv)} duplicated survivors")
    if not surv <= set(all_ids):
        errs.append(f"{len(surv - set(all_ids))} survivors not in the input")
    idx = NearIndex(shingles, threshold)
    for k in surv & set(all_ids):
        idx.add(k)
    orphans = [d for d in set(all_ids) - surv if not idx.near_earlier(d)]
    if orphans:
        errs.append(f"{len(orphans)} dropped docs have no earlier near-dup survivor, e.g. {orphans[:3]}")
    want = greedy_keep(all_ids, shingles, threshold)
    if surv != want:
        errs.append(f"survivors differ from the greedy pass: {len(surv - want)} extra, {len(want - surv)} missing")
    if index_rows != bands * len(survivors):
        errs.append(f"band index has {index_rows} rows, expected {bands} x {len(survivors)}")
    return errs


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
