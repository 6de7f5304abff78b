"""Tests for the benchmark runner's generators and checks.

Each check is shown passing on a correct output and failing on one
planted fault. No Spark is needed:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lake"))
    inputs.make_lake(7, out)
    d = os.path.join(out, "lake", inputs.LAKE_GROUP, "customer")
    man = pd.read_csv(os.path.join(out, "manifest.csv"), dtype=str)
    return {
        "dirty": checks.read_all_string(os.path.join(d, "dirty.csv")),
        "clean": checks.read_all_string(os.path.join(d, "clean.csv")),
        "manifest": man,
        "cells": {(r.row_id, r.column) for r in man.itertuples()},
    }


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus"))
    inputs.make_corpus(7, out)
    docs = pd.read_parquet(os.path.join(out, "docs.parquet"))
    parts = sorted(os.listdir(os.path.join(out, "stream")))
    stream = [pd.read_parquet(os.path.join(out, "stream", p)) for p in parts]
    sh = {i: checks.shingle_set(t) for i, t in zip(docs["doc_id"], docs["text"])}
    return {"docs": docs, "stream": stream, "shingles": sh}


# --- generators -----------------------------------------------------------


def test_lake_manifest_is_the_dirty_clean_diff(lake):
    assert checks.positional_diff(lake["dirty"], lake["clean"], "row_id") == lake["cells"]
    n = inputs.ERRORS_PER_KIND * len(inputs.ERROR_KINDS)
    assert len(lake["manifest"]) == len(lake["cells"]) == n
    assert set(lake["manifest"]["kind"]) == set(inputs.ERROR_KINDS)


def test_lake_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.make_lake(3, a)
    inputs.make_lake(3, b)
    inputs.make_lake(4, c)
    rel = os.path.join("lake", inputs.LAKE_GROUP, "customer", "dirty.csv")
    read = lambda d: open(os.path.join(d, rel), "rb").read()  # noqa: E731
    assert read(a) == read(b) != read(c)


def test_corpus_stream_split_is_ascending_and_complete(corpus):
    ids = [p["doc_id"].tolist() for p in corpus["stream"]]
    flat = [i for part in ids for i in part]
    assert flat == sorted(flat) == corpus["docs"]["doc_id"].tolist()
    assert len(ids) == inputs.STREAM_FILES


def test_corpus_copies_are_near_dups(corpus):
    """Every document either copies an earlier one (Jaccard 1.0) or is
    below 0.2 with all of them: the thresholds never see a borderline
    pair, and copies that are not byte-identical exist."""
    sh = corpus["shingles"]
    texts = dict(zip(corpus["docs"]["doc_id"], corpus["docs"]["text"]))
    ids = sorted(sh)
    variants = 0
    for i in ids:
        best = max(((checks.jaccard(sh[i], sh[k]), k) for k in ids if k < i), default=(0.0, -1))
        assert best[0] == 1.0 or best[0] < 0.2
        variants += best[0] == 1.0 and texts[i] not in {texts[k] for k in ids if k < i}
    assert variants == inputs.COPIES - inputs.EXACT_COPIES


# --- lake checks ----------------------------------------------------------


def test_truth_check_bites_on_a_dropped_cell(lake):
    assert checks.check_truth(set(lake["cells"]), lake["cells"], "t") == []
    dropped = set(lake["cells"])
    dropped.pop()
    assert checks.check_truth(dropped, lake["cells"], "t")


def test_metrics_check_bites_on_tp_off_by_one(lake):
    truth = lake["cells"]
    viol = set(list(truth)[:100]) | {("0", "c_name")}
    good = checks.prf(100, 1, len(truth) - 100)
    assert checks.check_metrics(good, viol, truth) == []
    bad = checks.prf(101, 1, len(truth) - 100)
    assert checks.check_metrics(bad, viol, truth)


def _violations(lake, kind_rule):
    m = lake["manifest"]
    rows = []
    for r in m.itertuples():
        value = lake["dirty"].set_index("row_id").at[r.row_id, r.column]
        rows.append((r.row_id, r.column, kind_rule.get(r.kind, "other"), value))
    return pd.DataFrame(rows, columns=["row_id", "column", "rule", "value"])


def test_values_check_bites_on_a_clean_value(lake):
    v = _violations(lake, {})
    assert checks.check_values(v, lake["dirty"], "row_id") == []
    clean = lake["clean"].set_index("row_id")
    v.loc[0, "value"] = clean.at[v.loc[0, "row_id"], v.loc[0, "column"]]
    assert checks.check_values(v, lake["dirty"], "row_id")


def test_range_check_bites_on_a_range_hit_outside_truth(lake):
    v = _violations(lake, {"range": "within_range"})
    assert checks.check_range_in_truth(v, lake["cells"]) == []
    extra = pd.DataFrame([("1", "c_nationkey", "within_range", "3")], columns=v.columns)
    assert checks.check_range_in_truth(pd.concat([v, extra]), lake["cells"])


def test_same_rows_check_bites_on_a_lost_row():
    rows = [("1", "a", "r", "x"), ("2", "b", "r", None)]
    assert checks.check_same_rows(rows, list(reversed(rows)), "w") == []
    assert checks.check_same_rows(rows, rows[:1], "w")


# --- corpus checks --------------------------------------------------------


def test_similar_pairs_is_the_brute_force_pair_set(corpus):
    sh = corpus["shingles"]
    ids = sorted(sh)
    brute = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
             if checks.jaccard(sh[a], sh[b]) >= 0.2]
    assert brute and checks.similar_pairs(sh, 0.2) == brute


def test_components_check_bites_on_a_false_edge(corpus):
    sh = corpus["shingles"]
    pairs = checks.similar_pairs(sh, 0.2)
    comps = checks.union_find_components(pairs)
    assert checks.check_components(comps, pairs) == []
    # an edge below the threshold between two components merges them
    roots = sorted(set(comps.values()))
    false = (roots[0], roots[1])
    assert checks.jaccard(sh[false[0]], sh[false[1]]) < 0.2
    assert checks.check_components(checks.union_find_components(pairs + [false]), pairs)
    # a member split off its component
    wrong = dict(comps)
    k = max(wrong)
    wrong[k] = k
    assert checks.check_components(wrong, pairs)


def test_keepers_check_bites_on_a_wrong_or_second_keeper(corpus):
    sh = corpus["shingles"]
    comps = checks.union_find_components(checks.similar_pairs(sh, 0.2))
    scores = {i: round((i * 37 % 11) / 10, 6) for i in sh}
    members: dict = {}
    for i, c in comps.items():
        members.setdefault(c, []).append(i)
    keepers = []
    for c, ids in members.items():
        best = min(ids, key=lambda i: (-scores[i], i))
        keepers.append((c, best, scores[best], len(ids)))
    assert checks.check_keepers(keepers, comps, scores) == []
    c, best, s, n = keepers[0]
    other = next(i for i in members[c] if i != best)
    assert checks.check_keepers([(c, other, scores[other], n)] + keepers[1:], comps, scores)
    assert checks.check_keepers(keepers + [keepers[0]], comps, scores)


def test_stream_check_bites_on_a_duplicated_survivor(corpus):
    sh = corpus["shingles"]
    ids = sorted(sh)
    kept = sorted(checks.greedy_keep(ids, sh, 0.5))
    assert 0 < len(kept) < len(ids)
    assert kept == sorted(i for i in ids if not any(
        checks.jaccard(sh[i], sh[k]) >= 0.5 for k in kept if k < i))
    assert checks.check_stream(kept, ids, sh, 0.5, 4 * len(kept), 4) == []
    dup = kept + [kept[0]]
    assert checks.check_stream(dup, ids, sh, 0.5, 4 * len(dup), 4)
    # a dropped document with no earlier near-dup survivor
    assert checks.check_stream(kept[1:], ids, sh, 0.5, 4 * (len(kept) - 1), 4)
    # index rows that do not match the survivors
    assert checks.check_stream(kept, ids, sh, 0.5, 4 * len(kept) - 1, 4)


# --- runner ---------------------------------------------------------------


class _Workload:
    """Three operations per round; ``raise_at`` makes that operation raise,
    ``bad_at`` makes its check fail."""

    n_ops = 3

    def __init__(self, raise_at=None, bad_at=None):
        self.raise_at, self.bad_at = raise_at, bad_at

    def round(self, ops, tracer=None):
        from workloads import Op

        for i in range(self.n_ops):
            if i == self.raise_at:
                raise RuntimeError("planted")
            ops.append(Op(f"op{i}", 0.01, 1, ["planted"] if i == self.bad_at else []))


@pytest.mark.parametrize("kw, finished, failed", [
    ({}, 3, 0),
    ({"raise_at": 0}, 0, 3),
    ({"raise_at": 2}, 2, 1),
    ({"bad_at": 1}, 3, 1),
])
def test_runner_counts_failed_operations_and_marks_the_run(kw, finished, failed):
    cleared = []
    outcome, done, rounds = run.run_rounds(_Workload(**kw), 0.0, None, lambda: cleared.append(1))
    assert outcome == {"correct": failed == 0, "attempted": 3, "failed": failed}
    assert len(done) == finished
    assert rounds == len(cleared) == 1
