"""The benchmark's workloads: what one round of operations does and how
its outputs are checked.

Each round is a list of operations run one after another by one client
(a closed loop). An operation is timed from its call to its collected
result; its checks run after the timer stops. With a tracer the same
calls run with the package functions they reach wrapped in spans, each
lazy result forced at the layer boundary, so the per-layer figures can
be read; those runs never feed the end-to-end metrics.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import checks
import inputs


@dataclass
class Op:
    name: str
    wall_s: float
    rows: int  # input rows (dirty table rows, or documents) the op processed
    errors: list = field(default_factory=list)


@contextlib.contextmanager
def _timed(name: str, rows: int):
    """Time the block as one operation. The caller appends the operation
    to its round once its checks have run, so an operation whose call or
    checks raise is missing from the round and counts as failed."""
    op = Op(name, 0.0, rows)
    t0 = time.perf_counter()
    yield op
    op.wall_s = time.perf_counter() - t0
    print(f"[op] {name} {op.wall_s:.2f}s", file=sys.stderr)


def _nullspan(*_a, **_k):
    return contextlib.nullcontext({})


# --- lake_injected --------------------------------------------------------

PKG = "datalakerulegeneration_spark"
# The package functions the CLI's multi path calls, each patched where its
# caller looks it up: ``__main__.main`` imports from ``catalog`` when it
# runs, ``pipeline.run_quality_pipeline`` uses its own module's names.
# ``column_metrics`` is not forced: the CLI builds it and never runs it.
LAKE_CALLS = (
    (f"{PKG}.catalog.discover_dataset_folders", "catalog", True),
    (f"{PKG}.catalog.read_csv_all_string", "catalog", True),
    (f"{PKG}.pipeline.load_all_rules", "rules", True),
    (f"{PKG}.pipeline.profile_tables", "profiling", True),
    (f"{PKG}.pipeline.cluster_columns_dbscan", "clustering", True),
    (f"{PKG}.pipeline.shared_rules_by_threshold", "clustering", True),
    (f"{PKG}.pipeline.generate_bindings", "pipeline", True),
    (f"{PKG}.rules.engine.RuleEngine.detect", "rules", True),
    (f"{PKG}.pipeline.cell_diff", "evaluation", True),
    (f"{PKG}.pipeline.cell_metrics", "evaluation", True),
    (f"{PKG}.pipeline.column_metrics", "evaluation", False),
    (f"{PKG}.catalog.write_table", "catalog", True),
)


class LakeInjected:
    """The CLI's ``--mode multi`` path over a generated one-table lake."""

    kind = "lake"
    # the same call twice: the first pays the JVM's warm-up, and the
    # pair's throughput spreads less across runs than one call's
    n_ops = 2
    tables = ("customer",)

    def __init__(self, spark, input_dir: str, work: str):
        self.spark = spark
        self.root = os.path.join(input_dir, "lake")
        man = checks.pd.read_csv(os.path.join(input_dir, "manifest.csv"), dtype=str)
        self.manifest = {
            t: {(r.row_id, r.column) for r in man[man["table"] == t].itertuples()}
            for t in self.tables
        }
        self.dirty = {}
        self.rows = 0
        for t in self.tables:
            d = os.path.join(self.root, inputs.LAKE_GROUP, t)
            self.dirty[t] = checks.read_all_string(os.path.join(d, "dirty.csv"))
            clean = checks.read_all_string(os.path.join(d, "clean.csv"))
            self.rows += len(self.dirty[t])
            # the generator's own promise: its manifest is the diff
            diff = checks.positional_diff(self.dirty[t], clean, "row_id")
            if diff != self.manifest[t]:
                raise RuntimeError(f"generated lake: manifest != dirty/clean diff for {t}")
        self.truth_checked = False
        self.out = os.path.join(work, "violations")

    def written_bytes(self) -> int:
        return checks.dir_bytes(self.out)

    def round(self, ops: list, tracer=None) -> None:
        """Run one round, appending each finished operation to ``ops``."""
        for _ in range(self.n_ops):
            self._call(ops, tracer)
            self.spark.catalog.clearCache()

    def _call(self, ops: list, tracer) -> None:
        from datalakerulegeneration_spark.__main__ import main

        shutil.rmtree(self.out, ignore_errors=True)
        argv = [
            "--mode", "multi", "--data-root", self.root,
            "--dataset-group", inputs.LAKE_GROUP,
            "--key-column", "row_id", "--output", self.out,
        ]
        traced = tracer.patched(LAKE_CALLS) if tracer else contextlib.nullcontext()
        with _timed("cli_multi", self.rows) as op:
            with traced, contextlib.redirect_stdout(sys.stderr):
                res = main(argv)
        collected = None
        if tracer:
            # the violations detection returned, collected after the
            # call, outside every span
            collected = {
                args[2]: [tuple(r) for r in v.collect()]
                for args, _, v in tracer.returned.pop("RuleEngine.detect")
            }
            tracer.returned.clear()
        op.errors += self._check(res["tables"], collected)
        ops.append(op)

    def _check(self, reported: dict, collected: dict | None) -> list[str]:
        errs = []
        if not self.truth_checked:
            # the program's truth set against the manifest, once per run
            # (it depends only on the inputs)
            errs += self._check_truth()
            self.truth_checked = True
        for t in self.tables:
            path = os.path.join(self.out, f"{t}_violations")
            v = checks.pd.read_parquet(path)
            print(f"[check] {t} violations by rule: {v['rule'].value_counts().to_dict()}",
                  file=sys.stderr)
            cells = set(zip(v["row_id"], v["column"]))
            errs += checks.check_metrics(reported[t], cells, self.manifest[t])
            errs += checks.check_values(v, self.dirty[t], "row_id")
            errs += checks.check_range_in_truth(v, self.manifest[t])
            if collected is not None:
                written = [tuple(r) for r in v.itertuples(index=False)]
                errs += checks.check_same_rows(written, collected[t], f"{t} written violations")
        return errs

    def _check_truth(self) -> list[str]:
        from datalakerulegeneration_spark.catalog import read_csv_all_string
        from datalakerulegeneration_spark.evaluation import cell_diff

        errs = []
        for t in self.tables:
            d = os.path.join(self.root, inputs.LAKE_GROUP, t)
            truth = cell_diff(
                read_csv_all_string(self.spark, os.path.join(d, "dirty.csv")),
                read_csv_all_string(self.spark, os.path.join(d, "clean.csv")),
                key="row_id",
            ).select("row_id", "column").collect()
            errs += checks.check_truth({tuple(r) for r in truth}, self.manifest[t], f"{t} cell_diff")
        return errs


# --- corpus_dedup -----------------------------------------------------------


class CorpusDedup:
    """The keep_best chain, corpus curation and the near-dup stream over
    the same generated documents."""

    kind = "corpus"
    n_ops = 3
    keep_best_threshold = 0.2
    near_dup_threshold = 0.5

    def __init__(self, spark, input_dir: str, work: str):
        self.spark = spark
        self.docs_path = os.path.join(input_dir, "docs.parquet")
        self.stream_dir = os.path.join(input_dir, "stream")
        self.work = work
        self.state = os.path.join(work, "stream_state")
        docs = checks.pd.read_parquet(self.docs_path)
        self.rows = len(docs)
        self.ids = docs["doc_id"].tolist()
        self.shingles = {i: checks.shingle_set(t) for i, t in zip(docs["doc_id"], docs["text"])}
        self.near_pairs = checks.similar_pairs(self.shingles, self.keep_best_threshold)
        self.batch_s: list[float] = []
        self.n_batches = len(os.listdir(self.stream_dir))
        self.curate_want = None

    def written_bytes(self) -> int:
        return checks.dir_bytes(self.state)

    def round(self, ops: list, tracer=None) -> None:
        """Run one round, appending each finished operation to ``ops``."""
        from datalakerulegeneration_spark.ops import dedup, textqa
        from datalakerulegeneration_spark.ops.curate import curate_corpus

        span = tracer.span if tracer else _nullspan
        force = tracer.force if tracer else (lambda df: None)
        spark = self.spark
        docs = spark.read.parquet(self.docs_path)

        with _timed("keep_best", self.rows) as op:
            with span("ops.dedup", "minhash_dedup"):
                pairs = dedup.minhash_dedup(
                    docs, "doc_id", "text", threshold=self.keep_best_threshold,
                    k=16, bands=8, expand="star",
                )
                force(pairs)
            with span("ops.dedup", "dup_components"):
                comps = dedup.dup_components(pairs)
                force(comps)
            with span("ops.textqa", "quality_score"):
                scores = textqa.quality_score(docs, "doc_id", "text")
                force(scores)
            with span("ops.dedup", "keep_best_exemplar"):
                keepers = [tuple(r) for r in dedup.keep_best_exemplar(comps, scores).collect()]
        comp_map = {r["id"]: r["component"] for r in comps.collect()}
        score_map = {r["id"]: r["quality"] for r in scores.collect()}
        op.errors += checks.check_components(comp_map, self.near_pairs)
        op.errors += checks.check_keepers(keepers, comp_map, score_map)
        ops.append(op)
        spark.catalog.clearCache()

        with _timed("curate", self.rows) as op:
            with span("ops.curate", "curate_corpus"):
                got = [tuple(r) for r in curate_corpus(docs).collect()]
        op.errors += checks.check_same_rows(got, self._curate_oracle(), "curate_corpus vs DuckDB")
        ops.append(op)
        spark.catalog.clearCache()

        with _timed("neardup_stream", self.rows) as op:
            with span("streaming", "neardup_dedup_stream", units=self.n_batches):
                q, dd = self._stream()
        batches = [
            p["durationMs"]["triggerExecution"] / 1e3
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
        self.batch_s += batches
        survivors = [int(r[0]) for r in dd.survivors().select("doc_id").collect()]
        index_rows = len(checks.pd.read_parquet(dd.index_path))
        op.errors += checks.check_stream(
            survivors, self.ids, self.shingles, self.near_dup_threshold, index_rows,
            dedup.N_BANDS,
        )
        if len(batches) != self.n_batches:
            op.errors.append(f"stream ran {len(batches)} batches, expected {self.n_batches}")
        ops.append(op)

    def _stream(self):
        """Run the stream over the input files until it has read them all."""
        from datalakerulegeneration_spark.streaming.neardup_index_stream import (
            neardup_dedup_stream,
        )

        shutil.rmtree(self.state, ignore_errors=True)
        ckpt = os.path.join(self.work, "stream_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.stream_dir)
        )
        q, dd = neardup_dedup_stream(
            self.spark, stream, self.state, threshold=self.near_dup_threshold,
            checkpoint_dir=ckpt,
        )
        try:
            q.awaitTermination(100)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q, dd

    def _curate_oracle(self) -> list[tuple]:
        """DuckDB running ``curate_corpus_sql`` over the same parquet;
        computed once per run (it depends only on the inputs)."""
        if self.curate_want is None:
            import duckdb

            from datalakerulegeneration_spark.ops.curate import curate_corpus_sql

            con = duckdb.connect()
            try:
                con.execute("SET threads TO 1")
                con.execute(
                    f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs_path}')"
                )
                self.curate_want = [
                    tuple(r) for r in con.execute(curate_corpus_sql("documents")).fetchall()
                ]
            finally:
                con.close()
        return self.curate_want


WORKLOADS = {"lake_injected": LakeInjected, "corpus_dedup": CorpusDedup}
