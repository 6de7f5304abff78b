"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry at the given sf dir, runs
the matching ``oracle_sql()`` in DuckDB over the same parquet, and
compares row count, sorted column names, and exact sorted values.

Also the registry-wide leak gate: each query runs inside
``materialize.scope()``; anything cached after it closes is a LEAK.

Usage: python tools/check_correctness.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from datalakerulegeneration_spark.materialize import footprint, scope
from datalakerulegeneration_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    """Type-tagged normalization: the driver hashes pandas frames, where
    an int64 3431 and a float64 3431.0 hash differently — so the local
    compare must NOT rely on Python's int==float leniency."""
    import numpy as np

    if v is None:
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        fv = float(v)
        if math.isnan(fv):
            # pandas renders SQL NULL as NaN in float64 columns; the
            # driver hash-matches those against Spark's None (r1 data).
            return ("null",)
        return ("f", fv)
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    return ("o", str(v))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("check", extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)
    failures = leaks = 0
    for name in names:
        t0 = time.time()
        before = footprint(spark)
        try:
            with scope():
                df = qs[name](spark, args.sf)
                cols = sorted(df.columns)
                rows = [tuple(norm(r[c]) for c in cols) for r in df.collect()]
            rows.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        after = footprint(spark)
        if after != before:
            print(
                f"LEAK  {name}: {len(after[0] - before[0])} persisted RDD(s), "
                f"{after[1] - before[1]} CacheManager entr(y/ies) left"
            )
            leaks += 1
        if name not in oracles:
            print(f"OK*   {name}: rows={len(rows)} (no oracle, rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            odf = cur.fetchdf()  # pandas path, like the driver: HUGEINT -> float64 shows up here
            ocols = sorted(odf.columns)
            orows = [
                tuple(norm(v) for v in r)
                for r in odf[ocols].itertuples(index=False, name=None)
            ]
            orows.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        if cols != ocols:
            print(f"FAIL  {name}: schema mismatch spark={cols} oracle={ocols}")
            failures += 1
            continue
        if len(rows) != len(orows):
            print(f"FAIL  {name}: rowcount spark={len(rows)} oracle={len(orows)}")
            failures += 1
            continue
        bad = None
        for a, b in zip(rows, orows):
            if a != b:
                bad = (a, b)
                break
        if bad:
            print(f"FAIL  {name}: value mismatch\n  spark : {bad[0]}\n  oracle: {bad[1]}")
            failures += 1
        else:
            print(f"OK    {name}: rows={len(rows)} [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    print(f"leak sweep: {leaks} quer(y/ies) left a cached relation behind")
    return 1 if failures or leaks else 0


if __name__ == "__main__":
    raise SystemExit(main())
