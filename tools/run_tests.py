"""Parallel test runner: the full pytest suite in ~max(group) wall
time instead of the ~800 s single-process sum.

pytest-xdist is not available in this environment, so this runs the
suite as THREE concurrent pytest processes over a fixed module split
(each module runs in exactly ONE process — no intra-module
parallelism, no test semantics changed). Each process owns its own
JVM/SparkSession and its own warehouse dir; cross-process state was
audited: Derby uses pytest tmp_path, bucketed-table writes happen only
in the test_ops group, streaming checkpoints use tmp_path.

Usage: python tools/run_tests.py [extra pytest args...]
Exit code: 0 iff every group passed.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# test_ops.py alone outweighs every other module (r8 solo: 383 s sans
# multimodal), so its heavy tail runs as its own process via a -k
# partition: MM_K and "not (MM_K)" are complements, so every test runs
# in exactly one group (tests/test_plans.py asserts the partition's
# complementarity AND that it catches every multimodal-family test by
# name). Members: the multimodal fixtures (slowest synthesis) plus the
# measured top of the ops duration tail (greedy keepset 24+9 s, pq
# index 9.6+7.4 s, ks/W1 10.2+5.2 s, classifier 8.9+7.1 s, ...).
MM_K = (
    "multimodal or png_decode or wav_decode or image_ or audio_ or video_"
    " or pq_index or ivf_"
    " or dedup_agreement or minhash_pairs_contract"
    " or component_split or curate_with_trained or semdedup"
    " or prefix_filter or band_join or minhash_identical_flood"
    " or curate_corpus_neardup or curate_neardup or span_dedup"
    " or prefix_jaccard or wasserstein_known or domain_mix"
)
# r12 rebalance: greedy_keepset / quality_classifier / test_ks /
# mad_outliers moved mm → ops (clean 4-way walls were ops 670 / mm 858
# / props 711 / rest 722 — spread 1.28; mm sheds its non-multimodal
# heavy tail, ops is the only group that can absorb test_ops weight).
# Confirmed after the move: ops 754.8 / mm 749.3 / props 691.0 /
# rest 725.6 — spread 1.09, 419 tests green (walls swing ±10% on
# ambient load; judge rebalances on multi-run spread, not one number)

# Balanced by measured walls — update when a group's time drifts past
# the max; the runner prints per-group walls.
GROUPS: dict[str, list[str]] = {
    "ops": [
        "tests/test_ops.py",
        "tests/test_dboost.py",
        "tests/test_pipeline.py",
        "tests/test_golden_match.py",
        "-k",
        f"not ({MM_K})",
    ],
    # mm is the lightest wall (325 s late-r9) — the golden-parity
    # modules ride along; 'golden' matches via their filenames (the
    # r11 trained-rules module included)
    "mm": [
        "tests/test_ops.py",
        "tests/test_golden_quintet.py",
        "tests/test_trained_rules_golden.py",
        "-k",
        f"({MM_K}) or golden",
    ],
    "props": [
        "tests/test_properties.py",
        "tests/test_clustering.py",
        "tests/test_matching.py",
        "tests/test_matching_discrimination.py",
        "tests/test_temporal.py",
        "tests/test_plans.py",
        # r11 rebalance: the heavy published-profile parity module
        # (many-table profiling, ~190 s) moved here from mm's rider
        "tests/test_published_artifacts.py",
        # the materialization leak tests + the 22-query registry sweep
        # (~3 min) ride the lightest group
        "tests/test_materialize.py",
    ],
    "rest": [
        "tests/test_dboost_golden.py",
        "tests/test_streaming.py",
        "tests/test_rules.py",
        "tests/test_profiler.py",
        "tests/test_functions.py",
        "tests/test_tpch_ext.py",
        "tests/test_tokenize.py",
        "tests/test_bpe.py",
    ],
}
# r9 rebalance history: rest hit 478 s under 4-way concurrency →
# test_plans moved rest → props; new streaming tests put rest back at
# 468 → test_dboost moved rest → ops. Late-r9 (after ~100 s of new
# frozen-split tests): clean 4-way walls ops 460 / mm 325 / props 502
# / rest 533 against per-module measurements (streaming 246,
# properties 278, pipeline 110, ops-solo 264) → THIRD rebalance: ~50 s
# of test_ops names moved into MM_K (mm is the only group that can
# absorb test_ops weight — its -k applies to the whole invocation, so
# plain modules can't join it), test_pipeline rest → ops, test_bpe +
# test_tokenize props → rest; a second ~35 s name shift ops → mm after
# ops became the max. Final clean measurement: ops 446 / mm 419 /
# props 447 / rest 460 (max 460, spread 41 — the 373-test suite's
# equalized floor on 32 cpus). Back-to-back full runs swing every wall
# ±10% on ambient load alone, so judge rebalances on the spread of
# several runs, not one number. NOTE test_dboost and test_pipeline
# ride inside ops' "not (MM_K)" invocation — their test names must
# never collide with MM_K terms (the partition test in test_plans
# enforces zero collisions, file coverage, and the sanctioned-dupe
# rule). A 5th group regressed every wall (JVM oversubscription:
# 5 x local[32] on 32 cpus), so rebalance by moving modules/names, not
# by adding JVMs.


def main() -> int:
    extra = sys.argv[1:]
    procs: dict[str, tuple[subprocess.Popen, str, float]] = {}
    for name, files in GROUPS.items():
        log = os.path.join(REPO, f".pytest_{name}.log")
        env = dict(os.environ)
        # per-process warehouse: bucketed tables must not collide
        env["SPARK_GRAFT_WAREHOUSE"] = f"/tmp/spark_graft_warehouse_{name}"
        cmd = [
            sys.executable,
            "-m",
            "pytest",
            *files,
            "-q",
            "-p",
            "no:cacheprovider",
            *extra,
        ]
        fh = open(log, "w")
        procs[name] = (
            subprocess.Popen(cmd, cwd=REPO, stdout=fh, stderr=subprocess.STDOUT, env=env),
            log,
            time.time(),
        )
    rc = 0
    for name, (p, log, t0) in procs.items():
        code = p.wait()
        wall = time.time() - t0
        tail = ""
        with open(log) as fh:
            lines = [ln.rstrip() for ln in fh if ln.strip()]
            tail = lines[-1] if lines else ""
        status = "OK " if code == 0 else "FAIL"
        print(f"{status} {name:6s} {wall:7.1f}s  {tail}   [{log}]")
        if code != 0:
            rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
