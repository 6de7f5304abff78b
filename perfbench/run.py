#!/usr/bin/env python3
"""Benchmark runner: one workload, one Python process, ``local[N]``.

    python3 perfbench/run.py --workload lake_injected|corpus_dedup \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from the seed
(cached under ``perfbench/.work/inputs``) before the clock starts. Then
the runner starts one SparkSession on ``local[N]``, N being this
process's CPU affinity, and runs whole rounds of the workload's
operations until ``--seconds`` have passed, clearing the session cache
between operations. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones, and the per-layer table is also written to
``perfbench/.work/layers_<workload>.json``. Spark's own output goes to
stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "datalakerulegeneration_spark"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["lake_injected", "corpus_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _inputs(kind: str, seed: int) -> str:
    """Generate (once per seed) in a child process, so the runner's own
    imports stay those a user of the package pays."""
    d = os.path.join(WORK, "inputs", f"{kind}-{seed}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), kind, str(seed), d],
            check=True, stdout=sys.stderr,
        )
        open(os.path.join(d, "DONE"), "w").close()
    return d


def _session(run_dir: str, n: int, trace: bool):
    from datalakerulegeneration_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    # the driver heap stays the package's own setting
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def _live_heap_mb(spark) -> float:
    """The driver JVM's heap in use after a full collection: what the
    run still holds (persisted RDDs, broadcasts, status-store records).
    Spark's context cleaner frees some of it only after a collection has
    cleared its weak references, so collect every half second until three
    readings in a row agree within 1 %."""
    # Python garbage first: a py4j proxy keeps its JVM object alive
    # until Python frees it
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    seen: list[float] = []
    for _ in range(20):
        jvm.java.lang.System.gc()
        seen.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        last = seen[-3:]
        if len(last) == 3 and max(last) - min(last) < 0.01 * last[-1]:
            return last[-1]
        time.sleep(0.5)
    raise RuntimeError(f"the driver heap did not settle: {seen}")


def _stop(spark) -> None:
    """Stop the session and wait until the JVM process has ended."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


T0 = time.perf_counter()


def _mark(what: str) -> None:
    print(f"[t] {time.perf_counter() - T0:7.2f}s {what}", file=sys.stderr)


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found beside {os.path.basename(HERE)}/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    wl = workloads.WORKLOADS[a.workload]
    input_dir = _inputs(wl.kind, a.seed)
    _mark("inputs")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    n_cpu = len(os.sched_getaffinity(0))
    # read by the package's session module when it is imported
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cpu)

    # setup: imports, JVM launch and the SparkSession; the clock starts
    # after input generation, which is cached by seed
    t0 = time.perf_counter()
    spark = _session(run_dir, n_cpu, bool(a.trace))
    setup_s = time.perf_counter() - t0
    _mark("session")
    try:
        return _measure(a, wl, spark, input_dir, run_dir, setup_s)
    finally:
        _mark("measured")
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        _mark("stopped")


def run_rounds(w, seconds: float, tracer, end_round):
    """Run whole rounds of ``w``'s operations until ``seconds`` have
    passed (at least one round). Returns the result's ``correct``,
    ``attempted`` and ``failed``, the operations that finished and the
    number of rounds. An operation fails when it raises or its checks
    find an error; a raise also fails the rest of its round. The
    benchmark keeps no operation that is known to fail, so any failure
    makes the run incorrect."""
    done, attempted, failed, rounds = [], 0, 0, 0
    t_start = time.perf_counter()
    while not rounds or time.perf_counter() - t_start < seconds:
        got: list = []
        try:
            w.round(got, tracer)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            failed += w.n_ops - len(got)
        rounds += 1
        attempted += w.n_ops
        end_round()
        for op in got:
            done.append(op)
            if op.errors:
                failed += 1
                print(f"[check] {op.name}: {op.errors}", file=sys.stderr)
    outcome = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    return outcome, done, rounds


def _measure(a, wl, spark, input_dir, run_dir, setup_s) -> int:
    from spans import LAYER_METRICS, LAYERS, STREAM_METRICS, Tracer

    tracer = Tracer(spark) if a.trace else None
    w = wl(spark, input_dir, os.path.join(run_dir, "out"))
    _mark("workload ready")
    live_mb: list[float] = []

    def end_round() -> None:
        spark.catalog.clearCache()
        if not a.trace:
            live_mb.append(_live_heap_mb(spark))

    outcome, done, rounds = run_rounds(w, a.seconds, tracer, end_round)
    metrics = {}
    if a.trace:
        table = tracer.layer_table(rounds)
        if hasattr(w, "batch_s") and w.batch_s:
            s = table.setdefault("streaming", {})
            s["batch_p50_s"] = statistics.median(w.batch_s)
            s["state_mb_per_kdoc"] = w.written_bytes() / 1e6 / (w.rows / 1000)
        table["_traced_round_s"] = sum(o.wall_s for o in done) / rounds
        with open(os.path.join(WORK, f"layers_{a.workload}.json"), "w") as f:
            json.dump(table, f, indent=1, sort_keys=True)
        for layer in LAYERS:
            for m, unit in LAYER_METRICS:
                metrics[f"{layer}.{m}"] = {"value": table.get(layer, {}).get(m, 0.0), "unit": unit}
        for name, unit in STREAM_METRICS:
            layer, m = name.split(".", 1)
            metrics[name] = {"value": table.get(layer, {}).get(m, 0.0), "unit": unit}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {
                "value": sum(o.rows for o in done) / max(sum(o.wall_s for o in done), 1e-9),
                "unit": "rows/s",
            },
            "written_mb": {"value": w.written_bytes() / 1e6, "unit": "MB"},
            "live_heap_mb": {"value": max(live_mb), "unit": "MB"},
        }
    print(json.dumps({**outcome, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
