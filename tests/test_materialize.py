"""One way to materialize and release an intermediate
(``datalakerulegeneration_spark.materialize``): the rule that no other
module caches, the leak tests of the ops that release what they
materialize, and the registry-wide leak sweep.

Every leak test runs with no outer scope and compares the persisted
RDDs and the CacheManager before and after the call, without clearing
a cache or collecting garbage in between."""

from __future__ import annotations

import ast
import inspect
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datalakerulegeneration_spark import materialize
from datalakerulegeneration_spark import queries as Q
from datalakerulegeneration_spark.materialize import footprint, scope
from tests.conftest import SF_DIR

PKG = Path(__file__).resolve().parents[1] / "datalakerulegeneration_spark"


def test_materialize_is_the_only_module_that_caches():
    banned = {"persist", "cache", "localCheckpoint", "checkpoint", "unpersist"}
    found = [
        f"{path.relative_to(PKG)}:{node.lineno} .{node.func.attr}("
        for path in PKG.rglob("*.py")
        if path != PKG / "materialize.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in banned
    ]
    assert found == []
    from datalakerulegeneration_spark.profiling import profiler

    assert "persists" not in inspect.signature(profiler.scalar_stats_long).parameters


def test_scope_releases_persists_and_checkpoints_also_on_error(spark):
    before = footprint(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with scope():
            materialize.persist(spark.range(10)).count()
            materialize.checkpoint(spark.range(20), eager=True)
            with scope():
                inner = materialize.checkpoint(spark.range(30))
                inner.count()
            assert len(footprint(spark)[0]) == len(before[0]) + 2  # inner scope released
            raise RuntimeError("boom")
    assert footprint(spark) == before
    # a loop releases a frame early; the scope's second release is a no-op
    with scope():
        ck = materialize.checkpoint(spark.range(5), eager=True)
        materialize.release(ck)
        assert footprint(spark) == before
    assert footprint(spark) == before


def test_exact_distinct_persists_g_only_for_two_consumers(sf_tables):
    """The per-column quartile result ``g`` feeds one stack branch per
    key kind present; it is persisted only when both NUMERIC and
    COERCED keys exist (small input: no range-partitioned grain)."""
    from datalakerulegeneration_spark.profiling.profiler import scalar_stats_long

    for coerce, n in ((False, 0), (True, 1)):
        with scope():
            scalar_stats_long(sf_tables["region"], "region", coerce_numeric=coerce)
            assert len(materialize._held.get()) == n


def test_neardup_updates_leave_nothing_behind(spark, tmp_path):
    """Two batches and a replay; the replay also stages no new version
    and leaves the manifest file untouched (the cheaper index sinks'
    replays are checked in test_streaming)."""
    from datalakerulegeneration_spark.streaming import NearDupDeduper
    from datalakerulegeneration_spark.streaming.committed import MANIFEST
    from tests.test_streaming import _neardup_corpus

    rows = _neardup_corpus()
    b0, b1 = (
        spark.createDataFrame(part, "doc_id long, text string")
        for part in ([r for r in rows if r[0] < 10], [r for r in rows if r[0] >= 10])
    )
    root = str(tmp_path / "nd")
    dd = NearDupDeduper(spark, root, threshold=0.3, bands=16)
    before = footprint(spark)
    dd.update(b0, 0)
    inode = os.stat(os.path.join(root, MANIFEST)).st_ino
    dd.update(b0, 0)
    assert [dd._state.versions(o) for o in ("survivors", "band_index")] == [["v1"], ["v1"]]
    assert os.stat(os.path.join(root, MANIFEST)).st_ino == inode
    dd.update(b1, 1)
    assert footprint(spark) == before


def test_profile_table_leaves_nothing_behind(spark):
    """A frame with no input files takes the range-partitioned quartile
    chain (persisted grain); the coerced string column makes ``g`` feed
    two branches (persisted too)."""
    from datalakerulegeneration_spark.profiling.profiler import profile_table

    df = spark.createDataFrame(
        [(i, float(i % 7), str(i % 5)) for i in range(200)], "k long, x double, s string"
    )
    before = footprint(spark)
    rows = profile_table(spark, df, "t", coerce_numeric=True).collect()
    assert footprint(spark) == before
    assert {r["column"] for r in rows} == {"k", "x", "s"}


def test_ks_and_wasserstein_table_leave_nothing_behind(spark, sf_tables):
    from datalakerulegeneration_spark.ops.drift import ks_table, wasserstein_table

    ev = sf_tables["events"]
    base, cur = ev.where(F.col("event_id") % 2 == 0), ev.where(F.col("event_id") % 2 == 1)
    before = footprint(spark)
    ks_table(base, cur, ["user_id", "value"], n_parts=8).collect()
    wasserstein_table(base, cur, ["user_id", "value"], n_parts=8).collect()
    assert footprint(spark) == before


def test_bpe_learn_leaves_nothing_behind(spark):
    from datalakerulegeneration_spark.ops import bpe
    from tests.test_bpe import CORPUS

    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string, source string")
    before = footprint(spark)
    got = bpe.bpe_learn(df, "doc_id", "text", n_merges=8, checkpoint_every=2).collect()
    assert footprint(spark) == before
    assert len(got) == 8


def test_pq_index_append_leaves_nothing_behind(spark, sf_tables, tmp_path):
    from datalakerulegeneration_spark.ops import ann_index

    emb = sf_tables["embeddings"]
    path = str(tmp_path / "pq")
    ann_index.pq_build_index(emb.where(F.col("vec_id") < 64), path, m=8, ksub=16)
    before = footprint(spark)
    ann_index.pq_index_append(emb.where((F.col("vec_id") >= 64) & (F.col("vec_id") < 96)), path)
    assert footprint(spark) == before
    assert ann_index._read_codes(spark, path).count() == 96


# The registered queries that reach a materialization site, found by
# counting persist/checkpoint registrations once over the whole
# registry at sf0.001 (the rest materialize nothing).
MATERIALIZING_QUERIES = """
    dboost_fizzbuzz_golden dboost_fizzbuzz_parthist_golden bpe_learn_documents
    embedding_dup_components mad_outliers_events quantile_drift_events
    wasserstein_table_events component_split_documents dedup_minhash_documents
    dup_components_documents dedup_agreement_documents dedup_greedy_keepset_documents
    keep_best_documents ccnet_buckets_documents curate_corpus_neardup_documents
    curate_corpus_ccnet_documents curation_funnel_ccnet_documents ks_events_value
    wasserstein_events_value ks_table_events trained_rules_ranges_quintet
    cluster_analysis_quintet
""".split()


@pytest.mark.parametrize("name", MATERIALIZING_QUERIES)
def test_registered_query_leaves_nothing_behind_its_scope(spark, name):
    before = footprint(spark)
    with scope():
        Q.REGISTRY[name][0](spark, SF_DIR).collect()
    assert footprint(spark) == before
