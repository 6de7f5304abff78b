"""Structured Streaming: incremental profiler + event-time windows."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datalakerulegeneration_spark.streaming import (
    IncrementalProfiler,
    stream_profile,
    streaming_gaussian_monitor,
    windowed_event_counts,
)


def test_incremental_profiler_matches_batch(spark, sf_tables, tmp_path):
    """Feed events as a 4-batch stream; merged state must equal the
    batch profiler's stats (mean/min/max/null exact, distinct approx)."""
    ev = sf_tables["events"].select("event_id", "event_type", "value")
    state = str(tmp_path / "state")
    os.makedirs(state, exist_ok=True)
    prof = IncrementalProfiler(spark, state, ["event_type", "value"])
    # simulate micro-batches deterministically
    for i in range(4):
        prof.update(ev.where(F.col("event_id") % 4 == i), i)
    got = {r["column"]: r for r in prof.finalize().collect()}

    exact = ev.agg(
        F.avg("value").alias("mu"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.countDistinct("event_type").alias("dc"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    v = got["value"]
    assert v["row_num"] == exact["n"]
    assert v["numeric_min"] == exact["mn"] and v["numeric_max"] == exact["mx"]
    assert v["numeric_mean"] == pytest.approx(exact["mu"], rel=1e-9)
    assert v["null_ratio"] == 0.0
    et = got["event_type"]
    assert et["distinct_num_approx"] == pytest.approx(exact["dc"], rel=0.1)


def test_batch_partials_merge_equals_whole(spark, sf_tables):
    """Batch incremental profiling: per-load partials merged in ANY
    order must finalize to exactly the single-pass profile of the whole
    table (HLL included — unioning sketches of a partition of the data
    reproduces the whole-data sketch registers bit-for-bit)."""
    from datalakerulegeneration_spark.streaming.profiler_stream import (
        finalize_state,
        merge_partials,
        partial_stats,
    )

    li = sf_tables["lineitem"].select("l_quantity", "l_returnflag", "l_shipdate")
    loads = [li.where(F.col("l_quantity") % 3 == i) for i in range(3)]
    parts = [partial_stats(ld) for ld in loads]

    def rows(state):
        return {r["column"]: r.asDict() for r in finalize_state(state).collect()}

    whole = rows(partial_stats(li))
    merged = rows(merge_partials(*parts))
    reordered = rows(merge_partials(parts[2], parts[0], parts[1]))
    exact_fields = ("row_num", "null_ratio", "numeric_min", "numeric_max", "numeric_mean", "numeric_std")
    for col in whole:
        for f in exact_fields:
            assert merged[col][f] == whole[col][f], (col, f)
            assert reordered[col][f] == whole[col][f], (col, f)
        # distinct rides an HLL union: ~1% sketch error vs single-pass
        assert merged[col]["distinct_num_approx"] == pytest.approx(
            whole[col]["distinct_num_approx"], rel=0.05
        )
        assert reordered[col]["distinct_num_approx"] == pytest.approx(
            whole[col]["distinct_num_approx"], rel=0.05
        )
    # the timestamp column must profile (analysis-time cast guard) with
    # null numeric stats and a real distinct estimate
    assert whole["l_shipdate"]["numeric_mean"] is None
    assert whole["l_shipdate"]["distinct_num_approx"] > 100


def test_stream_profile_file_source(spark, tmp_path):
    """End-to-end: parquet file stream → foreachBatch → finalize."""
    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("x")
    )
    df.write.parquet(os.path.join(src_dir, "part1"))
    stream = (
        spark.readStream.schema("k long, x double")
        .option("recursiveFileLookup", True)
        .parquet(src_dir)
    )
    q, prof = stream_profile(
        spark,
        stream,
        str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {r["column"]: r for r in prof.finalize().collect()}
    assert got["k"]["row_num"] == 1000
    assert got["x"]["numeric_max"] == 6.0


def test_textqa_map_only_ops_run_on_streams(spark, tmp_path):
    """The map-only text operators (pii_scrub, clean_text incl. its
    pandas_udf NFC stage) apply UNCHANGED to a streaming DataFrame —
    no stateful rewrite needed — and produce exactly the batch
    results. This is the design payoff of keeping them shuffle-free."""
    from datalakerulegeneration_spark.ops import textqa

    src = str(tmp_path / "in")
    os.makedirs(src)
    df = spark.createDataFrame(
        [
            (1, "mail me at a@b.co now café please"),
            (2, "tabs\there and  runs"),
            (3, "plain"),
        ],
        "doc_id long, text string",
    )
    df.write.parquet(os.path.join(src, "p1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    for op, name in ((textqa.pii_scrub, "pii"), (textqa.clean_text, "clean")):
        out = op(stream, "doc_id", "text")
        assert out.isStreaming
        q = (
            out.writeStream.format("memory")
            .queryName(f"tq_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.sql(f"select * from tq_{name}").collect()))
        exp = sorted(map(tuple, op(df, "doc_id", "text").collect()))
        assert got == exp


def test_windowed_counts_batch_parity(spark, sf_tables):
    """The unified plan runs on the batch frame; totals must reconcile."""
    ev = sf_tables["events"]
    win = windowed_event_counts(ev, window="1 hour")
    total = win.agg(F.sum("n")).collect()[0][0]
    assert total == ev.count()
    mon = streaming_gaussian_monitor(ev, window="6 hours")
    rows = mon.collect()
    assert rows and all(r["n"] > 0 for r in rows)


def test_stateful_gaussian_flags(spark, tmp_path):
    """applyInPandasWithState: batch 2 outliers are scored against
    batch 1's running moments; batch 1 has no prior model so nothing
    from it is flagged."""
    import time as _time

    from datalakerulegeneration_spark.streaming import stateful_gaussian_flags

    src_dir = str(tmp_path / "sgin")
    os.makedirs(src_dir)
    b1 = [("a", 10.0 + (i % 5) * 0.1) for i in range(100)]
    b2 = [("a", 10.2)] * 50 + [("a", 999.0)]  # planted outlier
    spark.createDataFrame(b1, "event_type string, value double").coalesce(1).write.parquet(
        os.path.join(src_dir, "b1")
    )
    _time.sleep(1.1)  # file-source batch order follows modification time
    spark.createDataFrame(b2, "event_type string, value double").coalesce(1).write.parquet(
        os.path.join(src_dir, "b2")
    )
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("recursiveFileLookup", True)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = stateful_gaussian_flags(stream, tol=3.0)
    q = (
        out.writeStream.format("memory")
        .queryName("sg_flags")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sgckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sg_flags").collect()
    flagged_vals = {r["value"] for r in rows}
    assert 999.0 in flagged_vals
    assert 10.2 not in flagged_vals  # in-band value not flagged
    for r in rows:
        assert r["n_prior"] >= 100  # scored against batch-1 state


def test_windowed_counts_streaming_mode(spark, sf_tables, tmp_path):
    """Same plan as a real stream (file source, availableNow) — verify
    watermarking/windowing execute in streaming mode."""
    src_dir = str(tmp_path / "evin")
    os.makedirs(src_dir)
    sf_tables["events"].write.parquet(os.path.join(src_dir, "p1"))
    schema = sf_tables["events"].schema
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", True)
        .parquet(src_dir)
    )
    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with availableNow
    # the final watermark closes all but the last window(s)
    n = spark.sql("SELECT count(*) FROM win_counts").collect()[0][0]
    assert n > 0


def test_dedup_stream_within_watermark(spark, sf_tables, tmp_path):
    """A doubled event stream dedups back to the distinct id count;
    state is watermark-bounded (dropDuplicatesWithinWatermark)."""
    from datalakerulegeneration_spark.streaming import dedup_stream

    ev = sf_tables["events"].select("event_id", "ts", "event_type").limit(200)
    src_dir = str(tmp_path / "dupin")
    os.makedirs(src_dir)
    ev.write.parquet(os.path.join(src_dir, "copy1"))
    ev.write.parquet(os.path.join(src_dir, "copy2"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", True)
        .parquet(src_dir)
    )
    out_rows = []
    q = (
        dedup_stream(stream, ("event_id",), "ts", "1 hour")
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, _id: out_rows.extend(bdf.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = [r.event_id for r in out_rows]
    assert len(ids) == len(set(ids)) == ev.count()
    # batch path degrades to plain dropDuplicates
    doubled = ev.unionAll(ev)
    assert dedup_stream(doubled, ("event_id",), "ts").count() == ev.count()


def test_sessionize_stream_matches_batch(spark, sf_tables, tmp_path):
    """Native session_window streaming sessionization agrees with the
    batch lag+running-sum sessionizer on session count and totals."""
    from datalakerulegeneration_spark.ops.temporal import sessionize
    from datalakerulegeneration_spark.streaming import sessionize_stream

    # second-truncated event times: the batch sessionizer compares
    # epoch seconds (oracle portability) while session_window uses full
    # microsecond timestamps — the comparison needs one time domain.
    # (Boundary semantics also differ at diff == gap exactly: batch
    # merges, session_window splits; no such pair exists in this data.)
    ev = (
        sf_tables["events"]
        .select(
            "event_id",
            F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts"),
            "user_id",
            "value",
        )
        .where(F.col("event_id") % 2 == 0)  # deterministic subset (a
        # bare limit() picks different rows per materialization)
    )
    src_dir = str(tmp_path / "sessin")
    os.makedirs(src_dir)
    ev.write.parquet(os.path.join(src_dir, "p"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", True)
        .parquet(src_dir)
    )
    batches = {}
    q = (
        sessionize_stream(stream, "user_id", "ts", "6 hours", "1 minute", "value")
        # complete mode: append only emits sessions CLOSED by the
        # watermark, so sessions still open when the bounded stream
        # ends would be held back forever
        .writeStream.outputMode("complete")
        .foreachBatch(lambda bdf, bid: batches.__setitem__(bid, bdf.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = batches[max(batches)]
    batch = sessionize(ev, "user_id", "ts", "6 hours", "value").collect()
    assert len(rows) == len(batch)
    assert sum(r.n_events for r in rows) == sum(r.n_events for r in batch) == ev.count()
    stream_totals = sorted(round(r.value_sum, 6) for r in rows)
    batch_totals = sorted(round(r.value_sum, 6) for r in batch)
    assert stream_totals == batch_totals


def test_psi_drift_stream_batch_parity_and_shift(spark, sf_tables):
    """Batch-mode run of the streaming monitor must equal the batch PSI
    operator's total on the same window of data; a planted shift must
    raise PSI far above the self-comparison."""
    from datalakerulegeneration_spark.ops.drift import psi_bins
    from datalakerulegeneration_spark.streaming import psi_drift_stream

    ev = sf_tables["events"]
    base = ev.where(F.col("event_id") % 2 == 0)
    cur = ev.where(F.col("event_id") % 2 == 1)
    out = psi_drift_stream(
        cur, base, "value", lo=0.0, hi=200.0, n_bins=8, window="52 weeks"
    ).collect()
    total_n = sum(r["n"] for r in out)
    assert total_n == cur.where(F.expr("try_cast(value as double)").isNotNull()).count()
    # one-window PSI ≈ batch operator's term sum (terms rounded per-bin there)
    batch_terms = psi_bins(base, cur, "value", n_bins=8, lo=0.0, hi=200.0).collect()
    batch_psi = sum(r["psi_term"] for r in batch_terms)
    assert len(out) >= 1
    one = psi_drift_stream(
        cur, base, "value", lo=0.0, hi=200.0, n_bins=8, window="520 weeks"
    ).collect()
    assert len(one) == 1
    assert abs(one[0]["psi"] - batch_psi) < 1e-4
    # identical halves → near-zero PSI; shifted copy → large PSI
    shifted = cur.withColumn("value", F.col("value") + F.lit(80.0))
    drifted = psi_drift_stream(
        shifted, base, "value", lo=0.0, hi=200.0, n_bins=8, window="520 weeks"
    ).collect()[0]["psi"]
    # sf0.001 halves are 500 rows each → sampling noise ≈ 0.05 PSI;
    # the planted shift lands at ~10.9, two orders above the cut
    assert one[0]["psi"] < 0.2 < drifted


def test_psi_drift_stream_streaming_mode(spark, sf_tables, tmp_path):
    """Real streaming execution: file source, availableNow trigger,
    per-window PSI rows equal the batch-mode run of the same monitor."""
    from datalakerulegeneration_spark.streaming import psi_drift_stream

    ev = sf_tables["events"].select("event_id", "ts", "value")
    base = ev.where(F.col("event_id") % 2 == 0)
    src_dir = str(tmp_path / "driftin")
    os.makedirs(src_dir)
    ev.where(F.col("event_id") % 2 == 1).write.parquet(os.path.join(src_dir, "p1"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", True)
        .parquet(src_dir)
    )
    out = psi_drift_stream(
        stream, base, "value", lo=0.0, hi=200.0, n_bins=8,
        window="6 hours", watermark="1 hour",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("psi_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_psi"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["window_end"]): (r["n"], r["psi"])
        for r in spark.sql("SELECT * FROM psi_stream").collect()
    }
    exp_all = {
        (r["window_start"], r["window_end"]): (r["n"], r["psi"])
        for r in psi_drift_stream(
            ev.where(F.col("event_id") % 2 == 1), base, "value",
            lo=0.0, hi=200.0, n_bins=8, window="6 hours",
        ).collect()
    }
    assert len(got) > 0
    # append mode withholds windows the final watermark hasn't closed;
    # every emitted window must match the batch computation exactly
    for k, v in got.items():
        assert exp_all[k] == v


def test_curate_stream_batch_twin_matches_oracle(spark, sf_tables, duck):
    """Batch-mode curate_stream (quality gate → min-id fingerprint
    dedup → eval anti-join) must match an independent DuckDB oracle."""
    from datalakerulegeneration_spark.ops import textqa
    from datalakerulegeneration_spark.streaming import curate_stream

    docs = sf_tables["documents"]
    eval_fps = (
        textqa.fingerprint(docs.where(F.col("doc_id") % 37 == 0), "doc_id", "text")
        .select(F.col("fingerprint").alias("eval_fp"))
        .distinct()
    )
    got = sorted(
        map(tuple, curate_stream(docs, eval_fps).drop("quality").collect())
    )
    q = textqa.quality_sql_expr("text")
    fp = textqa.fingerprint_sql_expr("text")
    nt = textqa.ntokens_sql_expr("text")
    sql = f"""
WITH d0 AS (
  SELECT doc_id AS id, source AS grp, {q} AS quality, {fp} AS fp, {nt} AS n_tokens
  FROM documents
),
d1 AS (SELECT * FROM d0 WHERE quality >= 0.5),
d2 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY id) rn FROM d1) WHERE rn = 1),
ev AS (SELECT DISTINCT {fp} AS eval_fp FROM documents WHERE doc_id % 37 = 0)
SELECT d2.id, d2.grp, d2.fp, d2.n_tokens FROM d2 ANTI JOIN ev ON d2.fp = ev.eval_fp
"""
    exp = sorted(map(tuple, duck.execute(sql).fetchall()))
    assert got == exp and len(got) > 0


def test_curate_stream_streaming_mode(spark, sf_tables, tmp_path):
    """Real streaming run: the surviving fingerprint SET equals the
    batch twin's (which member of a dup group survives depends on
    arrival order; the set of deduped fingerprints does not)."""
    from datalakerulegeneration_spark.ops import textqa
    from datalakerulegeneration_spark.streaming import curate_stream

    docs = sf_tables["documents"].withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id"))
    )
    eval_fps = (
        textqa.fingerprint(docs.where(F.col("doc_id") % 37 == 0), "doc_id", "text")
        .select(F.col("fingerprint").alias("eval_fp"))
        .distinct()
    )
    src = str(tmp_path / "curin")
    os.makedirs(src)
    docs.write.parquet(os.path.join(src, "p1"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    out = curate_stream(stream, eval_fps)
    q = (
        out.writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_cur"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM curated_stream").collect()
    twin = curate_stream(docs, eval_fps).collect()
    assert {r["fp"] for r in got} == {r["fp"] for r in twin}
    assert len(got) == len(twin) > 0


def test_curate_stream_requires_event_time(spark, sf_tables, tmp_path):
    """Review fix: a streaming input without the event-time column must
    fail with the real cause, not a cryptic window AnalysisException."""
    from datalakerulegeneration_spark.streaming import curate_stream

    docs = sf_tables["documents"]
    eval_fps = spark.createDataFrame([("x",)], "eval_fp string")
    src = str(tmp_path / "nots")
    os.makedirs(src)
    docs.write.parquet(os.path.join(src, "p1"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    with pytest.raises(ValueError, match="event-time"):
        curate_stream(stream, eval_fps)


def test_ks_drift_stream_batch_parity_and_shift(spark, sf_tables):
    """Grid-KS monitor: on one all-covering window it must (a) lower-
    bound and approximate the exact two-sample KS (grid form), (b) sit
    near zero for identical halves and spike for a planted shift, and
    (c) equal a hand-computed max CDF gap on its own grid."""
    from datalakerulegeneration_spark.ops.drift import ks_statistic
    from datalakerulegeneration_spark.streaming import (
        baseline_cdf_at, baseline_edges, ks_drift_stream,
    )

    ev = sf_tables["events"]
    base = ev.where(F.col("event_id") % 2 == 0)
    cur = ev.where(F.col("event_id") % 2 == 1)
    one = ks_drift_stream(cur, base, "value", n_edges=64, window="520 weeks").collect()
    assert len(one) == 1
    grid_ks = one[0]["ks"]
    exact = ks_statistic(base, cur, "value").collect()[0]["ks"]
    assert grid_ks <= exact + 1e-9
    assert exact - grid_ks < 0.05  # 64 quantile edges resolve the gap

    # hand check: max |F_cur(e) - F_base(e)| over the same grid
    edges = baseline_edges(base, "value", 64)
    fb = baseline_cdf_at(base, "value", edges)
    fc = baseline_cdf_at(cur, "value", edges)
    expected = round(max(abs(a - b) for a, b in zip(fc, fb)), 6)
    assert abs(grid_ks - expected) < 1e-9

    shifted = cur.withColumn("value", F.col("value") + F.lit(80.0))
    drifted = ks_drift_stream(shifted, base, "value", n_edges=64, window="520 weeks")
    assert drifted.collect()[0]["ks"] > 0.3 > grid_ks


def test_ks_drift_stream_streaming_mode(spark, sf_tables, tmp_path):
    """Real streaming execution of the grid-KS monitor (file source,
    availableNow): per-window rows equal the batch-mode run."""
    from datalakerulegeneration_spark.streaming import ks_drift_stream

    ev = sf_tables["events"].select("event_id", "ts", "value")
    base = ev.where(F.col("event_id") % 2 == 0)
    src_dir = str(tmp_path / "ksin")
    os.makedirs(src_dir)
    ev.where(F.col("event_id") % 2 == 1).write.parquet(os.path.join(src_dir, "p1"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", True)
        .parquet(src_dir)
    )
    out = ks_drift_stream(
        stream, base, "value", n_edges=16, window="6 hours", watermark="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ks_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ks"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["window_end"]): (r["n"], r["ks"])
        for r in spark.sql("SELECT * FROM ks_stream").collect()
    }
    exp = {
        (r["window_start"], r["window_end"]): (r["n"], r["ks"])
        for r in ks_drift_stream(
            ev.where(F.col("event_id") % 2 == 1), base, "value",
            n_edges=16, window="6 hours", watermark="1 hour",
        ).collect()
    }
    assert len(got) > 1
    # append mode withholds windows the final watermark hasn't closed;
    # every emitted window must match the batch computation exactly
    for k, v in got.items():
        assert exp[k] == v


def test_rollup_stream_batch_parity_and_merge(spark, sf_tables):
    """Continuous-aggregate invariant: hour-grain states computed over
    DISJOINT chunks, merged in arbitrary order and finalized, must be
    row-identical to the from-scratch batch rollup."""
    from datalakerulegeneration_spark.ops.temporal import time_rollup
    from datalakerulegeneration_spark.streaming.rollup_stream import (
        finalize_rollup,
        hour_grain_stream,
        merge_hour_grain,
    )

    ev = sf_tables["events"]
    direct = sorted(tuple(r) for r in time_rollup(ev, "ts", "value").collect())
    chunks = [ev.where(F.pmod(F.col("event_id"), F.lit(3)) == i) for i in range(3)]
    parts = [hour_grain_stream(c) for c in chunks]
    merged = merge_hour_grain(parts[2], parts[0], parts[1])
    got = sorted(tuple(r) for r in finalize_rollup(merged).collect())
    assert got == direct and len(got) > 3


def test_rollup_stream_streaming_mode(spark, sf_tables, tmp_path):
    """The hour-grain aggregation must run as a real watermarked
    stream (file source, availableNow), and the foreachBatch-merged
    state must finalize to the exact batch rollup."""
    from datalakerulegeneration_spark.ops.temporal import time_rollup
    from datalakerulegeneration_spark.streaming.rollup_stream import (
        finalize_rollup,
        hour_grain_stream,
        merge_hour_grain,
    )

    ev = sf_tables["events"]
    src_dir = str(tmp_path / "rollin")
    os.makedirs(src_dir)
    ev.write.parquet(os.path.join(src_dir, "p1"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", True)
        .parquet(src_dir)
    )
    state_dir = str(tmp_path / "rollstate")
    q = (
        hour_grain_stream(stream, watermark="2 hours")
        .writeStream.outputMode("complete")
        .foreachBatch(
            lambda bdf, _id: bdf.write.mode("overwrite").parquet(state_dir)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "rollckpt"))
        .start()
    )
    q.awaitTermination(120)
    state = spark.read.parquet(state_dir)
    state = merge_hour_grain(state)  # idempotent on a complete snapshot
    got = sorted(tuple(r) for r in finalize_rollup(state).collect())
    direct = sorted(tuple(r) for r in time_rollup(ev, "ts", "value").collect())
    assert got == direct


def test_incremental_deduper_batches_and_restart(spark, tmp_path):
    """Persisted-index dedup: batch 2 drops what batch 1 admitted; a
    NEW deduper instance on the same state dir (restart) still knows
    every previously-admitted digest; in-batch dups keep min id."""
    from datalakerulegeneration_spark.streaming import IncrementalDeduper

    state = str(tmp_path / "dedup_state")
    dd = IncrementalDeduper(spark, state)
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    dd.update(b1, 0)
    assert {r["id"] for r in dd.survivors().collect()} == {1, 2}

    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma")], "doc_id long, text string"
    )
    dd.update(b2, 1)
    assert {r["id"] for r in dd.survivors().collect()} == {1, 2, 11}

    dd2 = IncrementalDeduper(spark, state)  # restart
    b3 = spark.createDataFrame(
        [(20, "beta"), (21, "gamma"), (22, "delta")], "doc_id long, text string"
    )
    dd2.update(b3, 0)
    assert {r["id"] for r in dd2.survivors().collect()} == {1, 2, 11, 22}
    assert dd2.index().count() == 4  # alpha beta gamma delta
    # staging copies are torn down once both appends commit — a
    # long-running stream must not hoard one parquet copy per batch
    import os

    assert not [p for p in os.listdir(state) if p.startswith(".staging_")]


def test_incremental_dedup_stream_real_stream(spark, sf_tables, tmp_path):
    """availableNow file stream over document chunks: survivors must
    equal batch-mode exact dedup keepers (digest-grain min id)."""
    from datalakerulegeneration_spark.streaming import incremental_dedup_stream

    docs = sf_tables["documents"].select("doc_id", "text").limit(200)
    src = str(tmp_path / "src")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q, dd = incremental_dedup_stream(
        spark, stream, str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {r["text_digest"] for r in dd.survivors().collect()}
    exp = {
        r["text_digest"]
        for r in docs.where("text IS NOT NULL")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_digest"))
        .agg(F.min("doc_id"))
        .collect()
    }
    assert got == exp and len(got) > 0
    # one survivor row per distinct digest — the ordered micro-batches
    # admitted each digest exactly once
    assert dd.survivors().count() == len(exp)


def test_hll_monitor_stream_equals_batch(spark, sf_tables, tmp_path):
    """HLL state folded in per micro-batch must equal the whole-table
    batch sketch (register-wise-MAX mergeable contract on a REAL
    availableNow stream), so the streaming estimate IS the batch
    estimate."""
    from datalakerulegeneration_spark.ops.hll import hll_estimate, hll_sketch
    from datalakerulegeneration_spark.streaming import hll_stream

    ev = sf_tables["events"].select("event_id", "event_type", "user_id")
    src = str(tmp_path / "src")
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q, mon = hll_stream(
        spark, stream, str(tmp_path / "state"), "user_id",
        m=256, group_cols=["event_type"], checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {(r["event_type"], r["register"]): r["rho"] for r in mon.sketch().collect()}
    exp = {(r["event_type"], r["register"]): r["rho"]
           for r in hll_sketch(ev, "user_id", 256, ["event_type"]).collect()}
    assert got == exp and len(got) > 0
    est_stream = {r["event_type"]: r["est"] for r in mon.estimate().collect()}
    est_batch = {r["event_type"]: r["est"]
                 for r in hll_estimate(hll_sketch(ev, "user_id", 256, ["event_type"]),
                                       256, ["event_type"]).collect()}
    assert est_stream == est_batch


def test_cm_sketch_monitor_stream_equals_batch(spark, sf_tables, tmp_path):
    """Sketch state folded in per micro-batch must equal the
    whole-table batch sketch (mergeable-state contract on a REAL
    availableNow stream), and estimates must dominate exact counts."""
    from datalakerulegeneration_spark.ops.sketch import cm_sketch
    from datalakerulegeneration_spark.streaming import sketch_stream

    ev = sf_tables["events"].select("event_id", "event_type")
    src = str(tmp_path / "src")
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q, mon = sketch_stream(
        spark, stream, str(tmp_path / "state"), "event_type",
        depth=4, width=64, checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {(r["row"], r["bucket"]): r["n"] for r in mon.sketch().collect()}
    exp = {(r["row"], r["bucket"]): r["n"]
           for r in cm_sketch(ev, "event_type", 4, 64).collect()}
    assert got == exp
    est = {r["value"]: r["est"] for r in mon.estimate(ev).collect()}
    exact = {r["event_type"]: r["n"]
             for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert est.keys() == exact.keys()
    assert all(est[v] >= exact[v] for v in exact)


def _neardup_corpus():
    """Corpus with every near-dup shape: an exact cluster straddling
    batches, a greedy-visible CHAIN (A~B, B~C, A≁C — greedy keeps A
    AND C, component-collapse would not), short identical docs, and
    unique fillers. High pairwise Jaccard so the deterministic LSH
    banding finds every true pair."""
    # 3-gram jaccards: (A,B) = 8/12 ≈ 0.67, (B,C) = 5/15 ≈ 0.33,
    # (A,C) = 3/17 ≈ 0.18 — at threshold 0.3 the chain is A~B~C with
    # no A~C edge. Tests use bands=16 (1 minhash row per band) so the
    # 0.33-jaccard pair is a guaranteed-in-practice LSH candidate.
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    b = "alpha beta gamma delta epsilon zeta eta theta iota kappa nu xi"  # ~A
    c = "omicron pi rho sigma tau zeta eta theta iota kappa nu xi"  # ~B, not ~A
    return [
        (1, a),
        (2, "one entirely unrelated document about completely other things"),
        (3, a),  # exact dup of 1 (same batch)
        (4, b),  # near-dup of 1 → dropped
        (10, c),  # near-dup of 4 (dropped) but NOT of 1 → greedy keeps it
        (11, "tiny doc"),
        (12, "tiny doc"),  # < 3 tokens: no signature, both admitted
        (13, a),  # exact dup of 1 across batches → dropped
        (20, c),  # exact dup of 10 across batches → dropped
        (21, "yet another fully distinct piece of text with its own words"),
        (22, None),  # NULL text: always admitted
    ]


def test_greedy_keepset_chain_vs_components(spark):
    """The greedy leader rule (the streaming admission semantics) on a
    chain A~B~C keeps BOTH endpoints; component-collapse keeps only the
    min. Pins the semantic difference the near-dup stream implements."""
    from datalakerulegeneration_spark.ops.dedup import (
        dup_components,
        greedy_over_edges,
        minhash_greedy_keepset,
    )

    verts = spark.createDataFrame([(1,), (2,), (3,), (9,)], "v long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r["v"]: r["kept"] for r in greedy_over_edges(verts, edges).collect()}
    assert got == {1: True, 2: False, 3: True, 9: True}

    docs = spark.createDataFrame(
        [r for r in _neardup_corpus() if r[1] is not None], "doc_id long, text string"
    )
    ks = {r["id"]: r["kept"] for r in
          minhash_greedy_keepset(docs, "doc_id", "text", threshold=0.3, bands=16).collect()}
    # chain: 1 kept, 4 dropped (near-dups 1), 10 kept (only neighbor 4
    # is dropped); exact dups 3/13/20 dropped; short identicals kept
    assert ks[1] and not ks[4] and ks[10]
    assert not ks[3] and not ks[13] and not ks[20]
    assert ks[11] and ks[12] and ks[2] and ks[21]
    comp = dup_components(
        spark.createDataFrame([(1, 4), (4, 10)], "id_a long, id_b long")
    )
    cm = {r["id"]: r["component"] for r in comp.collect()}
    assert cm[10] == 1  # component-collapse would keep only doc 1


def test_neardup_index_stream_parity_and_restart(spark, tmp_path):
    """3 ascending-id batches + a restart through the persisted
    signature index admit EXACTLY the batch twin's keep-set
    (minhash_greedy_keepset over the concatenated corpus), and no
    staging dirs survive."""
    import os

    from datalakerulegeneration_spark.ops.dedup import minhash_greedy_keepset
    from datalakerulegeneration_spark.streaming import NearDupDeduper

    rows = _neardup_corpus()
    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    state = str(tmp_path / "nd_state")
    dd = NearDupDeduper(spark, state, threshold=0.3, bands=16)
    batches = [
        [r for r in rows if r[0] < 10],
        [r for r in rows if 10 <= r[0] < 20],
    ]
    for i, b in enumerate(batches):
        dd.update(spark.createDataFrame(b, "doc_id long, text string"), i)

    dd2 = NearDupDeduper(spark, state, threshold=0.3, bands=16)  # restart
    dd2.update(
        spark.createDataFrame([r for r in rows if r[0] >= 20], "doc_id long, text string"),
        0,
    )
    got = {r["doc_id"] for r in dd2.survivors().collect()}
    exp = {r["id"] for r in
           minhash_greedy_keepset(all_docs, "doc_id", "text", threshold=0.3, bands=16).collect()
           if r["kept"]}
    assert got == exp
    assert 10 in got and 4 not in got  # the chain shape survived streaming
    assert not [p for p in os.listdir(state) if p.startswith(".staging_")]
    # index holds bands only for signature-bearing admitted docs
    idx_ids = {r["doc_id"] for r in dd2.index().select("doc_id").distinct().collect()}
    assert idx_ids == {str(i) for i in got if i not in (11, 12, 22)}


def test_neardup_index_real_stream(spark, sf_tables, tmp_path):
    """availableNow file stream over real documents: survivors equal
    the batch greedy keep-set (batch boundaries are id-ordered)."""
    from datalakerulegeneration_spark.ops.dedup import minhash_greedy_keepset
    from datalakerulegeneration_spark.streaming import neardup_dedup_stream

    docs = sf_tables["documents"].select("doc_id", "text").limit(120)
    src = str(tmp_path / "src")
    # id-ordered batch boundaries (one file per id range, read in order)
    for lo, hi in ((0, 40), (40, 80), (80, 1 << 40)):
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q, dd = neardup_dedup_stream(
        spark, stream, str(tmp_path / "state"), threshold=0.2,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    got = {r["doc_id"] for r in dd.survivors().collect()}
    exp = {r["id"] for r in
           minhash_greedy_keepset(docs, "doc_id", "text", threshold=0.2).collect()
           if r["kept"]}
    assert got == exp and len(got) > 0


def test_sketch_monitors_replay_idempotent(spark, tmp_path):
    """foreachBatch re-delivers the last uncommitted batch after a
    crash; the ADDITIVE Count-Min fold must not double-count it. A
    replayed (same batch_id) update is a no-op; a NEW batch id still
    folds. Same contract on the HLL monitor."""
    from datalakerulegeneration_spark.streaming.sketch_stream import (
        CMSketchMonitor,
        HLLMonitor,
    )

    b0 = spark.createDataFrame([("a",), ("a",), ("b",)], "v string")
    b1 = spark.createDataFrame([("a",), ("c",)], "v string")

    cm = CMSketchMonitor(spark, str(tmp_path / "cm"), "v", depth=2, width=16)
    cm.update(b0, 0)
    once = {(r["row"], r["bucket"]): r["n"] for r in cm.sketch().collect()}
    cm.update(b0, 0)  # replay of a committed batch
    assert {(r["row"], r["bucket"]): r["n"] for r in cm.sketch().collect()} == once
    cm.update(b1, 1)
    est = {r["value"]: r["est"] for r in cm.estimate(
        spark.createDataFrame([("a",), ("b",), ("c",)], "v string")).collect()}
    # exact (no collisions at this tiny cardinality): a=3 NOT 5, b=1, c=1
    assert est == {"a": 3, "b": 1, "c": 1}

    hll = HLLMonitor(spark, str(tmp_path / "hll"), "v", m=16)
    hll.update(b0, 0)
    snap = {r["register"]: r["rho"] for r in hll.sketch().collect()}
    hll.update(b0, 0)
    assert {r["register"]: r["rho"] for r in hll.sketch().collect()} == snap
    hll.update(b1, 1)
    assert hll.applied_batch_id() == 1


def test_sketch_stream_restart_without_checkpoint_counts_once(spark, tmp_path):
    """A stream restarted without ``checkpoint_dir`` resumes its batch
    ids (the checkpoint defaults into the state dir), so rows that
    arrived between the two runs are folded — and folded once — instead
    of being skipped as an already-applied batch 0."""
    from datalakerulegeneration_spark.streaming import sketch_stream

    src, state = str(tmp_path / "src"), str(tmp_path / "state")

    def run():
        stream = spark.readStream.schema("v string").parquet(src)
        q, mon = sketch_stream(spark, stream, state, "v", depth=2, width=16)
        q.awaitTermination(120)
        return mon

    spark.createDataFrame([("a",), ("a",), ("b",)], "v string").write.mode("append").parquet(src)
    run()
    spark.createDataFrame([("a",), ("c",)], "v string").write.mode("append").parquet(src)
    mon = run()
    est = {r["value"]: r["est"] for r in mon.estimate(
        spark.createDataFrame([("a",), ("b",), ("c",)], "v string")).collect()}
    # exact (no collisions at this tiny cardinality): every row once
    assert est == {"a": 3, "b": 1, "c": 1}


def test_embedding_decontaminate_stream_matches_batch(spark, sf_tables, tmp_path):
    """Real availableNow file stream: the stateless scrub's audit
    columns equal the batch audit per id; drop mode keeps exactly the
    clean ids with the original schema; streaming eval side rejected."""
    import pytest as _pytest

    from datalakerulegeneration_spark.ops import similarity
    from datalakerulegeneration_spark.streaming import embedding_decontaminate_stream

    emb = sf_tables["embeddings"]
    ev = emb.where((F.col("vec_id") % 41) == 0).select("vec_id", "embedding")
    src = str(tmp_path / "vecs")
    os.makedirs(src)
    emb.select("vec_id", "embedding").write.parquet(os.path.join(src, "p1"))
    out_dir = str(tmp_path / "out")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    q = (
        embedding_decontaminate_stream(stream, ev, threshold=0.8)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["vec_id"]: (r["max_eval_cos"], r["contaminated"])
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {
        r["id"]: (r["max_eval_cos"], r["contaminated"])
        for r in similarity.embedding_decontaminate(emb, ev, threshold=0.8).collect()
    }
    assert got == exp and len(got) > 0

    # drop mode (batch twin of the same function): clean ids only
    dropped = embedding_decontaminate_stream(
        emb.select("vec_id", "embedding"), ev, threshold=0.8, mode="drop"
    )
    assert set(dropped.columns) == {"vec_id", "embedding"}
    kept = {r["vec_id"] for r in dropped.collect()}
    assert kept == {i for i, (_, c) in exp.items() if not c}

    with _pytest.raises(ValueError, match="static"):
        embedding_decontaminate_stream(stream, stream)


def test_fingerprint_keyed_incremental_dedup(spark, sf_tables, tmp_path):
    """The persisted dedup index is KEY-AGNOSTIC: fed the perceptual
    dHash (stringified) as its 'text', the same code path deduplicates
    exact image duplicates across batches and restarts — the
    multimodal use of the streaming dedup index, zero new code."""
    from datalakerulegeneration_spark.ops import multimodal
    from datalakerulegeneration_spark.streaming import IncrementalDeduper

    docs = sf_tables["documents"]
    dh = multimodal.image_dhash(
        multimodal.make_gradient_assets_from_documents(docs)
    ).withColumn("fp", F.col("dhash").cast("string"))
    b1 = dh.where(F.col("asset_id") < 250)
    b2 = dh.where(F.col("asset_id") >= 250)

    ded = IncrementalDeduper(spark, str(tmp_path / "st"), id_col="asset_id", text_col="fp")
    ded.update(b1, 0)
    # restart: a NEW deduper over the same state dir keeps the index
    ded2 = IncrementalDeduper(spark, str(tmp_path / "st"), id_col="asset_id", text_col="fp")
    ded2.update(b2, 1)

    surv = spark.read.parquet(str(tmp_path / "st" / "survivors"))
    got = sorted(r["id"] for r in surv.collect())

    # python model: min id per fingerprint, batch 1 before batch 2
    rows = sorted((r["asset_id"], r["dhash"]) for r in dh.collect())
    seen, expect = set(), []
    for aid, h in [t for t in rows if t[0] < 250] + [t for t in rows if t[0] >= 250]:
        if h not in seen:
            seen.add(h)
            expect.append(aid)
    assert got == sorted(expect)
    assert len(got) < dh.count()  # planted families actually dedupe


def test_dsir_score_stream_matches_batch_weights(spark, sf_tables, tmp_path):
    """Real availableNow stream scored against the persisted dense LM
    equals the batch dsir_weights per id (two float accumulation
    orders, both 6-dp rounded — tolerance 2e-6); threshold mode drops
    exactly the below-threshold ids; non-dense LM rejected."""
    import pytest as _pytest

    from datalakerulegeneration_spark.ops import textqa
    from datalakerulegeneration_spark.streaming import dsir_score_stream

    docs = sf_tables["documents"].withColumn("_t", F.col("source") == "src0")
    lm = textqa.dsir_lm(docs, "text", "_t")
    exp = {
        r["id"]: r["log_importance"]
        for r in textqa.dsir_weights(docs, "doc_id", "text", "_t").collect()
    }

    src = str(tmp_path / "docs")
    os.makedirs(src)
    docs.drop("_t").write.parquet(os.path.join(src, "p1"))
    stream = (
        spark.readStream.schema(docs.drop("_t").schema)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        dsir_score_stream(stream, lm)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["log_importance"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert set(got) == set(exp)
    for i, v in exp.items():
        assert abs(got[i] - v) <= 2e-6, (i, got[i], v)

    # batch twin with an admission threshold
    kept = dsir_score_stream(docs.drop("_t"), lm, min_log_importance=-30.0)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {i for i, v in exp.items() if v >= -30.0}
    assert set(kept.columns) == set(docs.drop("_t").columns)

    with _pytest.raises(ValueError, match="dense"):
        dsir_score_stream(docs.drop("_t"), lm.limit(10))


def test_ann_ingest_real_stream_extends_searchable_index(spark, sf_tables, tmp_path):
    """availableNow file stream of embeddings appends to a persisted
    PQ index built from an initial corpus slice; after the stream
    drains, the index holds every vector exactly once and is
    searchable — and a REPLAYED ingestion run (fresh checkpoint, same
    files) is a no-op thanks to the append's id anti-join."""
    from datalakerulegeneration_spark.ops import ann_index
    from datalakerulegeneration_spark.streaming import ann_ingest_stream

    emb = sf_tables["embeddings"]
    path = str(tmp_path / "annidx")
    ann_index.pq_build_index(emb.where(F.col("vec_id") < 200), path, m=8, ksub=32, n_lists=8)

    src = str(tmp_path / "src")
    for lo, hi in ((200, 350), (350, 1 << 40)):
        emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q, _ = ann_ingest_stream(spark, stream, path, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    n_all = emb.count()
    codes = ann_index._read_codes(spark, path)
    assert codes.count() == n_all
    assert codes.select("id").distinct().count() == n_all

    # replay the whole stream with a FRESH checkpoint: at-least-once
    # redelivery of already-admitted batches must not duplicate codes
    stream2 = spark.readStream.schema(emb.schema).parquet(src)
    q2, _ = ann_ingest_stream(spark, stream2, path, checkpoint_dir=str(tmp_path / "ckpt2"))
    q2.awaitTermination(180)
    assert ann_index._read_codes(spark, path).count() == n_all

    probes = emb.where(F.col("vec_id") >= 498).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ann_index.pq_search_index(spark, path, probes, k=5, n_probe=8)
    by_q = {r["query_id"]: set() for r in got.collect()}
    for r in got.collect():
        by_q[r["query_id"]].add(r["neighbor_id"])
    assert by_q and all(qid in ns for qid, ns in by_q.items())  # streamed rows searchable


def test_budget_admission_stream_vs_python_model(spark, sf_tables, tmp_path):
    """Arrival-order token-budget admission: survivors equal a python
    model of the contract (deterministic hash order within batch,
    skipped docs advance the position, only admitted tokens consume
    budget across batches); a full replay with a fresh checkpoint is a
    no-op; admitted totals never exceed the budget."""
    import hashlib
    import re

    from datalakerulegeneration_spark.streaming import budget_admission_stream

    docs = sf_tables["documents"].select("doc_id", "text").limit(120)
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    src = str(tmp_path / "src")
    batches = [(0, 40), (40, 80), (80, 1 << 40)]
    for lo, hi in batches:
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    budget = 3000
    q, adm = budget_admission_stream(
        spark, stream, str(tmp_path / "state"), budget,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    def proxy_w(t):
        return 0 if t is None else len(re.findall(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]", t))

    def hb(i):
        return int(hashlib.md5(f"budget:{i}".encode()).hexdigest()[:7], 16)

    admitted, cum = [], 0
    for lo, hi in batches:
        ids = sorted((i for i in rows if lo <= i < hi), key=lambda i: (hb(i), i))
        remaining, pos = budget - cum, 0
        for i in ids:
            w = proxy_w(rows[i])
            if pos + w <= remaining:
                admitted.append(i)
                cum += w
            pos += w
    got = sorted(r["doc_id"] for r in adm.survivors().collect())
    assert got == sorted(admitted)
    assert adm.admitted_tokens() == cum <= budget

    # fresh-checkpoint full replay: batch ids restart at 0 <= committed
    # marker, so every batch no-ops — no duplicate survivors, same state
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(src)
    q2, adm2 = budget_admission_stream(
        spark, stream2, str(tmp_path / "state"), budget,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(180)
    assert sorted(r["doc_id"] for r in adm2.survivors().collect()) == sorted(admitted)
    assert adm2.admitted_tokens() == cum


def test_url_dedup_stream_vs_python_model(spark, tmp_path):
    """Streaming URL-grain dedup (r9): survivors equal a python model
    of the contract — within each batch the smallest id per canonical
    URL wins, canonical URLs admitted by ANY earlier batch are dropped,
    and every no-URL document survives; the persisted index outlives
    the stream (a fresh-checkpoint full replay is a no-op, including
    for the keyless no-URL rows); batch-op agreement: a single-batch
    stream admits exactly ops.domains.url_dedup's keeper set."""
    from datalakerulegeneration_spark.ops import domains as D
    from datalakerulegeneration_spark.streaming import url_dedup_stream

    def url(i):
        if i % 11 == 0:
            return None  # no-URL rows always survive
        # paths collide mod 7 across batches; decorations vary so
        # canonicalization has real work to do
        www = "www." if i % 3 == 0 else ""
        port = ":443" if i % 4 == 0 else ""
        q = "?utm_source=x&p=1" if i % 2 == 0 else "?p=1"
        frag = "#sec" if i % 5 == 0 else ""
        return f"https://{www}site{i % 2}.com{port}/d/{i % 7}{q}{frag}"

    rows = [(i, url(i), f"doc {i}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    src = str(tmp_path / "src")
    batches = [(0, 20), (20, 40), (40, 60)]
    for lo, hi in batches:
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, url string, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q, ud = url_dedup_stream(
        spark, stream, str(tmp_path / "state"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    # python model over the proven canonicalization (batch op output)
    canon = {
        r["doc_id"]: r["canonical_url"]
        for r in D.with_canonical_url(docs, "url").collect()
    }
    admitted, seen = [], set()
    for lo, hi in batches:
        best = {}
        for i in range(lo, hi):
            c = canon[i]
            if c is None:
                admitted.append(i)
                continue
            if c not in best or i < best[c]:
                best[c] = i
        for c, i in best.items():
            if c not in seen:
                admitted.append(i)
                seen.add(c)
    got = sorted(r["doc_id"] for r in ud.survivors().collect())
    assert got == sorted(admitted)
    # survivor schema = batch columns + canonical_url, values faithful
    surv = {r["doc_id"]: r for r in ud.survivors().collect()}
    assert set(ud.survivors().columns) == {"doc_id", "url", "text", "canonical_url"}
    for i, r in surv.items():
        assert r["canonical_url"] == canon[i]
    # index covers every survivor exactly once (synthetic keys incl.)
    assert ud.index().count() == len(admitted)
    assert ud.index().distinct().count() == len(admitted)

    # fresh-checkpoint full replay is a no-op — keyed AND no-URL rows
    stream2 = spark.readStream.schema("doc_id long, url string, text string").parquet(src)
    q2, ud2 = url_dedup_stream(
        spark, stream2, str(tmp_path / "state"), checkpoint_dir=str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(180)
    assert sorted(r["doc_id"] for r in ud2.survivors().collect()) == got

    # single-batch stream ≡ the batch op's keeper set
    src1 = str(tmp_path / "src1")
    docs.coalesce(1).write.parquet(src1)
    s3 = spark.readStream.schema("doc_id long, url string, text string").parquet(src1)
    q3, ud3 = url_dedup_stream(
        spark, s3, str(tmp_path / "state1"), checkpoint_dir=str(tmp_path / "ckpt3")
    )
    q3.awaitTermination(180)
    want = sorted(r["doc_id"] for r in D.url_dedup(docs, "doc_id", "url").collect())
    assert sorted(r["doc_id"] for r in ud3.survivors().collect()) == want


def test_domain_guard_stream_vs_python_model(spark, tmp_path):
    """Streaming blocklist + per-domain cap: survivors equal a python
    model of the contract (per-batch deterministic md5 order within
    each domain, whole-stream per-domain counts, blocklisted domains
    never admitted, NULL-domain rows capped as a group); a fresh-
    checkpoint full replay is a no-op; no domain ever exceeds the cap."""
    import hashlib

    from datalakerulegeneration_spark.ops import domains as D
    from datalakerulegeneration_spark.streaming import domain_guard_stream

    def url(i):
        if i % 11 == 0:
            return None
        if i % 7 == 0:
            return f"https://bad.evil.org/{i}"
        return f"https://www.site{i % 3}.com/d/{i}"

    rows = [(i, url(i), f"doc {i}") for i in range(90)]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    src = str(tmp_path / "src")
    batches = [(0, 30), (30, 60), (60, 90)]
    for lo, hi in batches:
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, url string, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    cap = 5
    q, g = domain_guard_stream(
        spark, stream, str(tmp_path / "state"), cap,
        blocked_domains=["evil.org"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    # python model: batch order, md5(salt:id) order within domain
    dom_of = {
        r["doc_id"]: r["domain"]
        for r in D.with_registered_domain(docs, "url").collect()
    }

    def hb(i):
        return int(hashlib.md5(f"domain_cap:{i}".encode()).hexdigest()[:7], 16)

    admitted, counts = [], {}
    for lo, hi in batches:
        ids = [i for i, _, _ in rows if lo <= i < hi and dom_of[i] != "evil.org"]
        by_dom = {}
        for i in sorted(ids, key=lambda i: (hb(i), i)):
            by_dom.setdefault(dom_of[i], []).append(i)
        for dom, members in by_dom.items():
            for i in members:
                if counts.get(dom, 0) < cap:
                    admitted.append(i)
                    counts[dom] = counts.get(dom, 0) + 1
    got = sorted(r["doc_id"] for r in g.survivors().collect())
    assert got == sorted(admitted)
    state = {r["domain"]: r["n_admitted"] for r in g.admitted_counts().collect()}
    assert state == counts and max(state.values()) <= cap
    assert None in state  # NULL-domain rows were capped as a group
    assert "evil.org" not in state

    # fresh-checkpoint full replay: every batch id <= committed marker
    # no-ops — no duplicate survivors, identical state
    stream2 = spark.readStream.schema("doc_id long, url string, text string").parquet(src)
    q2, g2 = domain_guard_stream(
        spark, stream2, str(tmp_path / "state"), cap,
        blocked_domains=["evil.org"],
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(180)
    assert sorted(r["doc_id"] for r in g2.survivors().collect()) == got
    assert {r["domain"]: r["n_admitted"] for r in g2.admitted_counts().collect()} == counts


def test_psi_drift_stream_frozen_reference(spark, sf_tables):
    """Streaming refit trigger (r9): psi_drift_stream with LITERAL
    shares (no baseline scan) — fed the vendored freeze-time quality
    reference, the one-window PSI over the frozen-scored documents
    equals the batch psi_frozen total; a planted score shift crosses
    the 0.2 refit threshold."""
    from datalakerulegeneration_spark.ops.drift import psi_frozen
    from datalakerulegeneration_spark.ops.quality_model import (
        frozen_linear_score,
        load_frozen_ref_dist,
    )
    from datalakerulegeneration_spark.streaming import psi_drift_stream

    ref = load_frozen_ref_dist()
    shares = [c / sum(ref["ref_counts"]) for c in ref["ref_counts"]]
    docs = sf_tables["documents"]
    scored = frozen_linear_score(docs, "doc_id", "text").withColumn(
        "ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    )
    one = psi_drift_stream(
        scored, None, "quality_score",
        lo=ref["lo"], hi=ref["hi"], n_bins=len(shares),
        window="520 weeks", shares=shares,
    ).collect()
    assert len(one) == 1
    batch = psi_frozen(
        scored, "quality_score", ref["lo"], ref["hi"], ref["ref_counts"]
    ).collect()
    assert abs(one[0]["psi"] - sum(r["psi_term"] for r in batch)) < 1e-4
    # a uniform margin shift (vocabulary drift) must trip the trigger
    shifted = scored.withColumn("quality_score", F.col("quality_score") + F.lit(40.0))
    psi_shift = psi_drift_stream(
        shifted, None, "quality_score",
        lo=ref["lo"], hi=ref["hi"], n_bins=len(shares),
        window="520 weeks", shares=shares,
    ).collect()[0]["psi"]
    assert psi_shift > 0.2
    # guards: shares xor baseline; width mismatch
    import pytest as _pytest

    with _pytest.raises(ValueError, match="baseline frame or shares"):
        psi_drift_stream(scored, None, "quality_score", lo=0.0, hi=1.0)
    with _pytest.raises(ValueError, match="shares for n_bins"):
        psi_drift_stream(
            scored, None, "quality_score", lo=0.0, hi=1.0, n_bins=4, shares=shares
        )


def _crash_cases(spark, sf_tables, tmp_path):
    """Per sink: ``(make(root), [batch 0, batch 1], snapshot(sink))``.
    ``snapshot`` reads every committed view the sink has — survivors,
    state, index — as sorted plain rows."""
    from datalakerulegeneration_spark.ops import ann_index
    from datalakerulegeneration_spark.streaming import (
        AnnIndexIngester,
        BudgetAdmitter,
        CMSketchMonitor,
        CurateIndexedDeduper,
        DomainGuard,
        HLLMonitor,
        IncrementalDeduper,
        IncrementalProfiler,
        NearDupDeduper,
        UrlDeduper,
    )

    def frames(schema, *batches):
        return [spark.createDataFrame(b, schema) for b in batches]

    def rows(df, *cols):
        return sorted(map(tuple, df.select(*cols).collect()), key=repr)

    docs = "doc_id long, text string"
    web = "doc_id long, url string, text string"
    values = frames("v string", [("a",), ("a",), ("b",)], [("a",), ("c",)])
    nd = _neardup_corpus()

    def ann(root):
        # one build, copied per run: only the appends are under test
        template = tmp_path / "ann_template"
        if not template.exists():
            ann_index.pq_build_index(emb.where("vec_id < 64"), str(template), m=8, ksub=8)
        if not root.exists():
            shutil.copytree(template, root)
        return AnnIndexIngester(spark, str(root))

    emb = sf_tables["embeddings"]
    return {
        "cm": (
            lambda r: CMSketchMonitor(spark, str(r), "v", depth=2, width=16),
            values,
            lambda s: rows(s.sketch(), "*"),
        ),
        "hll": (
            lambda r: HLLMonitor(spark, str(r), "v", m=16),
            values,
            lambda s: rows(s.sketch(), "*"),
        ),
        "profiler": (
            lambda r: IncrementalProfiler(spark, str(r), ["k", "x"]),
            frames("k long, x double", [(1, 1.0), (2, None)], [(3, 5.0), (4, 2.0)]),
            lambda s: rows(s.finalize(), "*"),
        ),
        "budget": (
            lambda r: BudgetAdmitter(spark, str(r), 9),
            frames(
                docs,
                [(1, "one two three"), (2, "four five")],
                [(3, "six seven"), (4, "eight nine ten eleven")],
            ),
            lambda s: (rows(s.survivors(), "*"), s.admitted_tokens()),
        ),
        "domain_guard": (
            lambda r: DomainGuard(spark, str(r), 1, blocked_domains=["evil.org"]),
            frames(
                web,
                [(1, "https://a.com/1", "x"), (2, "https://a.com/2", "x"),
                 (3, "https://evil.org/1", "x"), (4, None, "x")],
                [(5, "https://a.com/3", "x"), (6, "https://c.com/1", "x"), (7, None, "x")],
            ),
            lambda s: (rows(s.survivors(), "*"), rows(s.admitted_counts(), "*")),
        ),
        "dedup_index": (
            lambda r: IncrementalDeduper(spark, str(r)),
            frames(docs, [(1, "alpha"), (2, "beta"), (3, "alpha")],
                   [(10, "alpha"), (11, "gamma")]),
            lambda s: (rows(s.survivors(), "*"), rows(s.index(), "*")),
        ),
        "url_dedup": (
            lambda r: UrlDeduper(spark, str(r)),
            frames(
                web,
                [(1, "http://a.com/x?utm_source=t", "x"), (2, "http://A.com/x", "x"),
                 (3, None, "x")],
                [(4, "http://a.com/x", "x"), (5, "http://e.com/new", "x"), (6, None, "x")],
            ),
            lambda s: (rows(s.survivors(), "*"), rows(s.index(), "*")),
        ),
        "neardup_index": (
            lambda r: NearDupDeduper(spark, str(r), threshold=0.3, bands=16),
            frames(docs, [x for x in nd if x[0] < 10], [x for x in nd if x[0] >= 10]),
            lambda s: (rows(s.survivors(), "*"), rows(s.index(), "*")),
        ),
        "ann": (
            ann,
            [emb.where(f"vec_id >= {lo} AND vec_id < {lo + 16}") for lo in (64, 80)],
            lambda s: rows(ann_index._read_codes(spark, s.path), "*"),
        ),
        "curate_indexed": (
            lambda r: CurateIndexedDeduper(spark, str(r), quality_min=0.5),
            # batch 0: u1 admitted; u1-dup-url dropped (same canonical
            # URL); c1/c1copy: distinct URLs, same TEXT → content dedup
            # keeps c1; lowq fails the quality gate (one repeated token).
            # batch 1: url of doc 1 again (drop), text of doc 3 again
            # under a new url (drop), one genuinely new doc (admit)
            frames(
                web,
                [
                    (1, "http://a.com/x?utm_source=t", "alpha beta gamma delta epsilon zeta."),
                    (2, "http://A.com/x", "other words entirely, but the url matches."),
                    (3, "http://b.com/1", "identical content travels here, full stop."),
                    (4, "http://b.com/2", "identical content travels here, full stop."),
                    (5, "http://c.com/low", "!!!! ???? !!!! ???? !!!!"),
                ],
                [
                    (6, "http://a.com/x", "reposted under the canonical url again."),
                    (7, "http://d.com/z", "identical content travels here, full stop."),
                    (8, "http://e.com/new", "a genuinely new document arrives now."),
                ],
            ),
            lambda s: (
                rows(s.survivors(), "doc_id", "url", "text"),
                rows(s.url_index(), "canon_key"),
                rows(s.digest_index(), "text_digest"),
            ),
        ),
    }


@pytest.mark.parametrize(
    "sink",
    ["cm", "hll", "profiler", "budget", "domain_guard", "dedup_index",
     "url_dedup", "neardup_index", "ann", "curate_indexed"],
)
def test_committed_crash_matrix(spark, sf_tables, tmp_path, monkeypatch, sink):
    """Every sink commits through streaming.committed, so a crash after
    ANY output write and before the commit must replay to the views of
    a run that never crashed: the crashed batch is replayed, then the
    committed batch is replayed again (a no-op) — zero duplicates, zero
    losses. Crashes are injected by patching the primitive's write,
    after every write the sink makes in batch 1 (on top of committed
    state). The composed curate sink also crashes in batch 0 and takes
    a storm: every write of every batch crashes once before the batch
    commits."""
    from datalakerulegeneration_spark.streaming import committed

    make, batches, snapshot = _crash_cases(spark, sf_tables, tmp_path)[sink]
    real_write = committed.Transaction.write
    writes = []

    def recording(self, output, df, replace=False):
        writes.append(output)
        return real_write(self, output, df, replace)

    def crashing(target):
        def write(self, output, df, replace=False):
            path = real_write(self, output, df, replace)
            if output == target:
                raise RuntimeError(f"injected crash after {output}")
            return path

        return write

    def run(root, crashes, start=0):
        """Drive the batches from ``start``; at each (batch, output) in
        ``crashes`` crash after that write, then replay the batch, then
        replay the committed batch."""
        s = make(root)
        for bid, batch in list(enumerate(batches))[start:]:
            for point in [o for b, o in crashes if b == bid]:
                with monkeypatch.context() as mp:
                    mp.setattr(committed.Transaction, "write", crashing(point))
                    with pytest.raises(RuntimeError, match="injected crash"):
                        s.update(batch, bid)
            s.update(batch, bid)  # the replay that must converge
            s.update(batch, bid)  # replay of the COMMITTED batch: no-op
        return snapshot(s)

    # the run that never crashes records every write; its state after
    # batch 0 is the starting point of the batch-1 crash runs
    points = []
    ref_sink = make(tmp_path / "ref")
    for bid, batch in enumerate(batches):
        with monkeypatch.context() as mp:
            mp.setattr(committed.Transaction, "write", recording)
            del writes[:]
            ref_sink.update(batch, bid)
            points += [(bid, o) for o in writes]
        if bid == 0:
            shutil.copytree(tmp_path / "ref", tmp_path / "after0")
    ref = snapshot(ref_sink)
    assert [o for b, o in points if b == 1], "batch 1 wrote nothing"

    if sink == "curate_indexed":
        # the intended semantics first: docs 1, 3, 8 survive
        assert [r[0] for r in ref[0]] == [1, 3, 8]
        # url index carries every url-stage-admitted key (content-dup
        # doc 4 still claims its URL), quality-failed doc 5 claims none
        assert len(ref[1]) == 5  # a.com/x, b.com/1, b.com/2, d.com/z, e.com/new
        assert len(ref[2]) == 3  # digests of docs 1, 3, 8
        for i, point in enumerate(p for p in points if p[0] == 0):
            assert run(tmp_path / f"crash0_{i}", [point]) == ref, point
        assert run(tmp_path / "storm", points) == ref
    for i, point in enumerate(p for p in points if p[0] == 1):
        root = tmp_path / f"crash1_{i}"
        shutil.copytree(tmp_path / "after0", root)
        assert run(root, [point], start=1) == ref, point


def test_curate_indexed_corrupted_state_fails_loudly(spark, tmp_path):
    """r11 (r10 ADVICE): a file the manifest lists that is missing is
    state corruption — the manifest and the files live and die together
    (files are written first; an empty batch still writes a file).
    Silently skipping it would shrink the url/digest indexes and
    re-admit duplicates, so the deduper must refuse to read the state
    instead."""
    import pytest as _pt

    from datalakerulegeneration_spark.streaming import CurateIndexedDeduper
    from datalakerulegeneration_spark.streaming.committed import CommittedState

    b0 = spark.createDataFrame(
        [(1, "http://a.com/x", "alpha beta gamma delta epsilon zeta.")],
        "doc_id long, url string, text string",
    )
    dd = CurateIndexedDeduper(spark, str(tmp_path / "st"), quality_min=0.5)
    dd.update(b0, 0)
    assert [r["doc_id"] for r in dd.survivors().collect()] == [1]
    os.remove(CommittedState(spark, str(tmp_path / "st")).paths("url_index")[0])
    with _pt.raises(RuntimeError, match="state corrupted"):
        dd.url_index().collect()
    # the other indexes are intact and still readable
    assert len(dd.digest_index().collect()) == 1


def test_curate_indexed_stream_wiring(spark, tmp_path):
    """The composed sink through a REAL StreamingQuery (file source,
    availableNow): wave 2 continues under the SAME checkpoint (batch-id
    idempotence requires checkpoint/state continuity — the Delta
    (appId, batchId) convention); a fresh-checkpoint FULL replay of the
    unchanged source is then a committed-marker no-op."""
    import os as _os

    from datalakerulegeneration_spark.streaming import curate_indexed_stream

    src = str(tmp_path / "in")
    _os.makedirs(src)
    spark.createDataFrame(
        [
            (1, "http://a.com/x", "alpha beta gamma delta epsilon."),
            (2, "http://a.com/x?utm_source=z", "different words but same url."),
            (3, "http://b.com/y", "second document, distinct content."),
        ],
        "doc_id long, url string, text string",
    ).write.parquet(_os.path.join(src, "w1"))

    def run(state, ckpt):
        stream = (
            spark.readStream.schema("doc_id long, url string, text string")
            .option("recursiveFileLookup", True)
            .parquet(src)
        )
        q, dd = curate_indexed_stream(
            spark, stream, state, checkpoint_dir=ckpt, quality_min=None
        )
        q.awaitTermination(120)
        q.stop()
        return dd

    state = str(tmp_path / "state")
    dd = run(state, str(tmp_path / "ck1"))
    surv1 = sorted(r["doc_id"] for r in dd.survivors().collect())
    assert surv1 == [1, 3]  # doc 2 is a canonical-URL duplicate
    # second wave: a url dup of doc 1 and a new doc
    spark.createDataFrame(
        [
            (4, "http://a.com/x", "url seen before, must drop."),
            (5, "http://c.com/z", "a brand new third document."),
        ],
        "doc_id long, url string, text string",
    ).write.parquet(_os.path.join(src, "w2"))
    dd = run(state, str(tmp_path / "ck1"))  # SAME checkpoint: wave 2 = batch 1
    surv2 = sorted(r["doc_id"] for r in dd.survivors().collect())
    assert surv2 == [1, 3, 5]
    digs = [r["text_digest"] for r in dd.digest_index().collect()]
    assert len(digs) == len(set(digs)) == 3
    # fresh-checkpoint FULL replay of the unchanged source: the whole
    # history re-arrives as batch 0, which the marker skips — no-op
    dd = run(state, str(tmp_path / "ck_fresh"))
    assert sorted(r["doc_id"] for r in dd.survivors().collect()) == [1, 3, 5]


def test_index_sink_replays_stage_no_new_versions(spark, tmp_path):
    """A replayed batch admits nothing, so it adds no (empty) version to
    any output and leaves the manifest file itself untouched (the
    near-dup sink's replay is checked in test_materialize)."""
    from datalakerulegeneration_spark.streaming import IncrementalDeduper, UrlDeduper
    from datalakerulegeneration_spark.streaming.committed import MANIFEST, CommittedState

    cases = {
        "dedup_index": (IncrementalDeduper, "doc_id long, text string",
                        [(1, "alpha"), (2, "beta"), (3, "alpha")], "digest_index"),
        "url_dedup": (UrlDeduper, "doc_id long, url string, text string",
                      [(1, "http://a.com/x", "x"), (2, None, "y")], "canon_index"),
    }
    for name, (make, schema, rows, index) in cases.items():
        root = str(tmp_path / name)
        sink, batch = make(spark, root), spark.createDataFrame(rows, schema)
        sink.update(batch, 0)
        inode = os.stat(os.path.join(root, MANIFEST)).st_ino
        for _ in range(2):
            sink.update(batch, 0)
        state = CommittedState(spark, root)
        assert [state.versions(o) for o in ("survivors", index)] == [["v1"], ["v1"]], name
        assert os.stat(os.path.join(root, MANIFEST)).st_ino == inode, name
