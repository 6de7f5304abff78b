"""Profiler correctness vs DuckDB on the sf0.001 tables."""

import math

import pytest
from pyspark.sql import functions as F

from datalakerulegeneration_spark.profiling import profile_table, scalar_stats_long
from datalakerulegeneration_spark.profiling.stats import STATS, NUMERIC, STRINGY, ANY
from datalakerulegeneration_spark.profiling.profiler import column_kind


def test_scalar_stats_match_duckdb_oracle(spark, sf_tables, duck):
    """Every registry stat must match its own SQL template bit-for-bit."""
    for table in ("lineitem", "documents", "events"):
        df = sf_tables[table]
        kinds = {f.name: column_kind(f.dataType) for f in df.schema.fields}
        got = {
            (r["col_name"], r["stat_name"]): r["stat_value"]
            for r in scalar_stats_long(df, table).collect()
        }
        for c in df.columns:
            k = kinds[c]
            for st in STATS:
                if st.kind not in (ANY, k):
                    continue
                sql = f"SELECT {st.sql(c)} FROM {table}"
                exp = duck.execute(sql).fetchone()[0]
                val = got[(c, st.name)]
                if exp is None:
                    assert val is None, (table, c, st.name, val)
                elif isinstance(exp, float) and math.isnan(exp):
                    assert val is None or math.isnan(val)
                else:
                    assert val == pytest.approx(exp, abs=0, rel=0) or val == exp, (
                        table, c, st.name, val, exp,
                    )


def test_profile_table_shape(spark, sf_tables):
    p = profile_table(spark, sf_tables["lineitem"], "lineitem")
    rows = {r["column"]: r for r in p.collect()}
    assert len(rows) == len(sf_tables["lineitem"].columns)
    li = rows["l_quantity"]
    assert li["row_num"] == 6000.0
    assert li["null_ratio"] == 0.0
    assert li["unique_ratio"] == pytest.approx(50 / 6000)
    assert rows["l_returnflag"]["basic_data_type"] == "categorical"
    assert rows["l_orderkey"]["basic_data_type"] == "integer"
    assert rows["l_extendedprice"]["basic_data_type"] == "float"


def test_profile_deterministic_ties(spark, sf_tables):
    """Modal/histogram stats break ties by value — rerun must be identical."""
    a = profile_table(spark, sf_tables["nation"], "nation").collect()
    b = profile_table(spark, sf_tables["nation"], "nation").collect()
    assert a == b


def test_approx_mode(spark, sf_tables):
    """exact=False (the 100 TB path): approx distinct within HLL
    tolerance, everything else identical to exact mode."""
    li = sf_tables["lineitem"]
    exact = {
        (r["col_name"], r["stat_name"]): r["stat_value"]
        for r in scalar_stats_long(li, "lineitem").collect()
    }
    approx = {
        (r["col_name"], r["stat_name"]): r["stat_value"]
        for r in scalar_stats_long(li, "lineitem", exact=False).collect()
    }
    assert set(exact) == set(approx)
    for (c, s), v in exact.items():
        a = approx[(c, s)]
        if s in ("distinct_num", "unique_ratio"):
            if v and v > 0:
                assert abs(a - v) / v < 0.1, (c, s, a, v)
            else:
                assert a == v, (c, s, a, v)
        elif s in ("q1", "q2", "q3"):
            pass  # rank-based guarantee, checked separately below
        elif v is None:
            assert a is None
        else:
            assert a == v, (c, s, a, v)

    # approx quartiles: the sketch guarantee is on RANK, not value (it
    # returns a real data value, no interpolation) — each approx
    # quartile must sit between the exact quantiles at p ± 1%
    from pyspark.sql import functions as F

    ps = {"q1": 0.25, "q2": 0.5, "q3": 0.75}
    for c in ("l_quantity", "l_extendedprice", "l_suppkey"):
        lo_hi = li.agg(
            *[
                F.expr(
                    f"percentile(try_cast(`{c}` as double), array({p - 0.01}D, {p + 0.01}D))"
                ).alias(q)
                for q, p in ps.items()
            ]
        ).collect()[0]
        for q in ps:
            a = approx[(c, q)]
            lo, hi = lo_hi[q]
            assert lo <= a <= hi, (c, q, a, lo, hi)


def test_value_stats_vs_duckdb(spark, sf_tables, duck):
    """Modal value/freq (P13), most-freq ratio (P10), Benford first
    digit (P11) against direct DuckDB computations on customer."""
    from datalakerulegeneration_spark.profiling.profiler import value_stats

    rows = {r["col_name"]: r for r in value_stats(sf_tables["customer"], "customer").collect()}

    modal = duck.execute("""
        SELECT CAST(c_mktsegment AS VARCHAR) v, count(*) n FROM customer
        WHERE c_mktsegment IS NOT NULL GROUP BY 1 ORDER BY n DESC, v LIMIT 1
    """).fetchone()
    assert rows["c_mktsegment"]["histogram"] == modal[0]
    assert rows["c_mktsegment"]["histogram_freq"] == float(modal[1])

    mfr = duck.execute("""
        WITH c AS (SELECT TRY_CAST(c_nationkey AS DOUBLE) v, count(*) n FROM customer
                   WHERE c_nationkey IS NOT NULL GROUP BY 1)
        SELECT CAST(max(n) AS DOUBLE) / sum(n) FROM c
    """).fetchone()[0]
    assert rows["c_nationkey"]["most_freq_value_ratio"] == pytest.approx(mfr)

    fd = duck.execute("""
        SELECT substr(regexp_replace(CAST(c_acctbal AS VARCHAR), '[^0-9]', '', 'g'), 1, 1) d,
               count(*) n
        FROM customer WHERE c_acctbal IS NOT NULL
        GROUP BY 1 HAVING d <> '' ORDER BY n DESC, d LIMIT 1
    """).fetchone()
    assert rows["c_acctbal"]["first_digit"] == fd[0]
    dist = rows["c_acctbal"]["first_digit_distribution"]
    assert abs(sum(dist.values()) - 1.0) < 1e-9


def test_phone_name_override(spark):
    """R6: a phone-named column validates against the NANP regex
    regardless of the cluster's dominant pattern."""
    from datalakerulegeneration_spark.pipeline import _phone_override
    from datalakerulegeneration_spark.rules.spec import Rule
    from datalakerulegeneration_spark.rules import RuleEngine
    from datalakerulegeneration_spark.rules.engine import Binding

    base = Rule("matches_dominant_pattern", validate={"type": "pattern"})
    assert _phone_override(base, "beer_name") is None
    o = _phone_override(base, "phone_number")
    assert o is not None and o.validate["type"] == "regex"

    df = spark.createDataFrame(
        [("1", "205-555-0199"), ("2", "not-a-phone")], "id string, phone string"
    )
    eng = RuleEngine(spark)
    v = eng.detect(df, "t", [Binding("phone", o)], row_id_col="id", suppress_full_column=False)
    assert {r["row_id"] for r in v.collect()} == {"2"}


def test_dataset_profile(spark, sf_tables):
    from datalakerulegeneration_spark.profiling import dataset_profile

    p = profile_table(spark, sf_tables["region"], "region")
    dp = dataset_profile(p).collect()
    assert len(dp) == 1 and dp[0]["table"] == "region"


def test_wide_table_chunked_profile(spark):
    """r10 wide-table hatch: scalar_stats_long auto-chunks past
    max_cols_per_pass (default 200) — the monolithic 1,000-column wide
    agg OOMs the executor heap (tools/probe_wide_profile.py). The
    chunked output must be ROW-IDENTICAL to the monolithic plan, and
    tables at or under the threshold must not split (the oracle
    queries' plan shape is untouched)."""
    from datalakerulegeneration_spark.profiling.profiler import scalar_stats_long

    n = 12
    df = spark.range(0, 500, 1, 4).selectExpr(
        *[
            (f"CAST(id % {i + 3} AS INT) AS c{i}" if i % 2 == 0
             else f"concat('v', CAST(id % {i + 3} AS STRING)) AS c{i}")
            for i in range(n)
        ]
    )
    mono = sorted(map(tuple, scalar_stats_long(df, "t", max_cols_per_pass=0).collect()))
    chunked = sorted(map(tuple, scalar_stats_long(df, "t", max_cols_per_pass=5).collect()))
    assert chunked == mono and len(mono) > 0
    # at/under the threshold the plan is the monolithic shape (the
    # wide-agg + distinct-melt union only); chunking multiplies the
    # union arms — count Union nodes as the structural proxy
    def unions(mcpp):
        plan = scalar_stats_long(df, "t", max_cols_per_pass=mcpp)
        return plan._jdf.queryExecution().analyzed().toString().count("Union")
    assert unions(200) == unions(0)  # 12 cols <= 200: no split happened
    assert unions(5) > unions(0)     # 3 chunks: extra union arms


@pytest.mark.parametrize("setting, max_pb", [("1t", 1 << 40), ("64kb", 64 << 10), ("100000", 100000)])
def test_scan_size_reads_max_partition_bytes_as_spark_does(spark, sf_tables, setting, max_pb):
    """The split estimate takes spark.sql.files.maxPartitionBytes from
    Spark's typed conf: every byte-string spelling Spark accepts."""
    import os

    import pyarrow.parquet as pq

    from datalakerulegeneration_spark.catalog import scan_size

    df = sf_tables["lineitem"]
    path = df.inputFiles()[0].removeprefix("file:")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", setting)
    try:
        size = scan_size(df)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    nbytes = os.path.getsize(path)
    assert (size.bytes, size.splits) == (nbytes, -(-nbytes // max_pb))
    assert size.rows() == pq.ParquetFile(path).metadata.num_rows
    assert scan_size(spark.createDataFrame([(1,)], "x int")) is None
