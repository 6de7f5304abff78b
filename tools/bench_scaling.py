"""Scaling rows: the wall of registered queries at one or more scale
factors on one core count. Warm session, min of two runs per (query,
sf), session cache cleared after each run.

Usage:
    SPARK_GRAFT_CPUS=4 python tools/bench_scaling.py \\
        --sf /root/testdata/sf0.1 --sf .bench/sf1 --out .bench/scaling.jsonl \\
        keep_best_documents profile_lineitem ...

The session's core count is fixed when it starts, so run once per core
count. Each invocation appends one JSON line
``{"cpus", "queries": {name: {sf_dir_basename: seconds}}, "ts"}`` to
``--out``. tools/make_sf1.py synthesizes the sf1/sf10 dirs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datalakerulegeneration_spark import queries as Q
from datalakerulegeneration_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", action="append", required=True, help="scale-factor dir (repeatable)")
    ap.add_argument("--out", required=True, help="JSON-lines file to append to")
    ap.add_argument("names", nargs="+", help="registered query names")
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in Q.REGISTRY]
    if unknown:
        ap.error(f"not registered: {unknown}")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(f"scaling-c{cpus}", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.range(0, 1_000_000).selectExpr("sum(id)").collect()  # JIT warm-up
    timings: dict[str, dict[str, float]] = {}
    for name in args.names:
        impl = Q.REGISTRY[name][0]
        for sf_dir in args.sf:
            walls = []
            for _ in range(2):
                t0 = time.time()
                impl(spark, sf_dir).collect()
                walls.append(round(time.time() - t0, 3))
                spark.catalog.clearCache()
            label = os.path.basename(os.path.normpath(sf_dir))
            timings.setdefault(name, {})[label] = min(walls)
            print(f"c{cpus} {name} @ {label}: {min(walls)}s", flush=True)
    row = {"cpus": cpus, "queries": timings, "ts": time.strftime("%Y-%m-%dT%H:%M:%S")}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "a") as fh:
        fh.write(json.dumps(row) + "\n")
    print(json.dumps(row))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
