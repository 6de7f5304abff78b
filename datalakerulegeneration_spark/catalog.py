"""Table catalog + ingest (reference operators S1-S8).

The reference loads every table as an all-string pandas DataFrame
(``dataset.py:42-48``: ``dtype=str, keep_default_na=False`` + strip) or
through a latin-1 normalizing reader (``utils/read_data.py:18-49``).
Here both modes are declarative reads that Catalyst can prune/push into,
and the catalog is itself a DataFrame so discovery composes with joins.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# testdata columns stored as TIMESTAMP(NANOS): with
# spark.sql.legacy.parquet.nanosAsLong=true they surface as LongType
# nanoseconds; convert to µs timestamps (same truncation DuckDB does).
TIMESTAMP_NANOS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


import weakref

# weak-keyed by the live SparkSession object: entries die with their
# session (no stale-session hits from recycled id()s, no unbounded
# growth across session restarts)
_SF_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


class ScanSize(NamedTuple):
    files: list[str]
    bytes: int
    splits: int  # estimated: each file split at spark.sql.files.maxPartitionBytes

    def rows(self) -> int | None:
        """Row count from the parquet footers; None for other formats."""
        try:
            return sum(pq.ParquetFile(f).metadata.num_rows for f in self.files)
        except (OSError, ValueError):  # unreadable, or not parquet (ArrowInvalid)
            return None


def scan_size(df: DataFrame) -> ScanSize | None:
    """Size of ``df``'s input files from metadata only (no data read);
    None when it reads no files or one cannot be stat'ed locally."""
    files = [f.removeprefix("file:") for f in df.inputFiles()]
    try:
        sizes = [os.path.getsize(f) for f in files]
    except OSError:
        return None
    if not sizes:
        return None
    max_pb = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return ScanSize(files, sum(sizes), sum(max(1, -(-n // max_pb)) for n in sizes))


def load_sf_tables(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables for one scale factor.

    Loaded frames are memoized per (session, dir, tables): reading a
    parquet path runs a footer/schema job on the driver, and registry
    queries re-load the same tables constantly. DataFrames are
    immutable plans, so handing the same objects back is safe; the
    testdata dirs are static.
    """
    # the testdata carries TIMESTAMP(NANOS); an externally-created
    # SparkSession (e.g. the driver's) won't have the session factory's
    # config, so set the runtime-settable SQL conf defensively — without
    # it the read throws PARQUET_TYPE_ILLEGAL (set on cache hits too:
    # execution reads the conf at runtime, not only at plan time)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf locked down → fall through to the read attempt
    key = (os.path.abspath(sf_dir), tuple(tables))
    hit = _SF_TABLE_CACHE.get(spark, {}).get(key)
    if hit is not None:
        return dict(hit)
    if not os.path.isdir(sf_dir):
        raise FileNotFoundError(
            f"scale-factor dir not found: {sf_dir!r} (expected e.g. /root/testdata/sf0.01)"
        )
    out: dict[str, DataFrame] = {}
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        df = spark.read.parquet(p)
        for c in TIMESTAMP_NANOS_COLS.get(t, ()):
            if c in df.columns and dict(df.dtypes)[c] == "bigint":
                df = df.withColumn(
                    c, F.timestamp_micros(F.floor(F.col(c) / 1000).cast("long"))
                )
        out[t] = df
    _SF_TABLE_CACHE.setdefault(spark, {})[key] = dict(out)
    return out


# ---------------------------------------------------------------------------
# S1 — all-string CSV scan (reference dataset.py:42-48)
# ---------------------------------------------------------------------------

def read_csv_all_string(spark: SparkSession, path: str) -> DataFrame:
    """Read a CSV with every cell as a trimmed string, no NA parsing.

    Mirrors the reference's ``pd.read_csv(dtype=str,
    keep_default_na=False)`` + per-cell strip: nulls become empty
    strings, whitespace is trimmed. All downstream profiling/type
    inference operates on these strings.
    """
    df = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("nullValue", None)
        # RFC-4180 doubled-quote escaping ("" inside a quoted field),
        # the convention pandas/DuckDB read and the reference's golden
        # pairs use (rayyan author_list) — Spark's default escape is
        # backslash, which silently mangles such rows (r10 golden run)
        .option("escape", '"')
        # embedded newlines/CRs inside quoted fields (DGov lake2018's
        # location text) — pandas parses them natively; without
        # multiLine Spark splits the record mid-field. Scale note:
        # multiLine reads each FILE as one split (no intra-file
        # parallelism) — correct for golden-pair-sized CSVs and for
        # many-file lakes; a single multi-TB CSV should be converted
        # to parquet at the door anyway (S4).
        .option("multiLine", True)
        .csv(path)
    )
    return df.select(
        *[F.trim(F.coalesce(F.col(c).cast("string"), F.lit(""))).alias(c) for c in df.columns]
    )


# ---------------------------------------------------------------------------
# S2 — normalized CSV scan (reference utils/read_data.py:18-49)
# ---------------------------------------------------------------------------

def _html_unescape_udf():
    # html.unescape has no Spark builtin; Arrow-batched, used once at
    # ingest. Built inside a function so cloudpickle ships the udf BY
    # VALUE — a module-level udf serializes as a package reference the
    # Python workers cannot import when the driver runs outside the repo.
    @F.pandas_udf(T.StringType())
    def _html_unescape(s: pd.Series) -> pd.Series:
        import html as _html

        return s.map(lambda v: _html.unescape(v) if isinstance(v, str) else v)

    return _html_unescape


def read_csv_normalized(spark: SparkSession, path: str, encoding: str = "ISO-8859-1") -> DataFrame:
    """CSV read with the reference's value normalizer applied.

    Normalizer (reference utils/read_data.py:7-15): HTML-unescape,
    collapse internal whitespace runs to one space, strip. Whitespace
    handling stays JVM-side (regexp_replace + trim); only the unescape
    needs a pandas_udf, and it is applied once at ingest so rule
    evaluation later stays in whole-stage codegen.
    """
    df = (
        spark.read.option("header", True)
        .option("encoding", encoding)
        # RFC-4180 + quoted multiline records, matching read_csv_all_string
        .option("escape", '"')
        .option("multiLine", True)
        .csv(path)
    )
    unescape = _html_unescape_udf()
    cols = []
    for c in df.columns:
        v = F.col(c).cast("string")
        v = unescape(v)
        v = F.regexp_replace(v, r"\s+", " ")
        v = F.trim(v)
        cols.append(v.alias(c))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# S5 — dataset-folder discovery (reference profiling/profiler.py:42-63)
# ---------------------------------------------------------------------------

def discover_dataset_folders(spark: SparkSession, root: str) -> DataFrame:
    """Scan ``<root>/<group>/<name>/{dirty,clean}.csv`` into a catalog DF.

    Driver-side listing (directory metadata, not data); results become a
    DataFrame so downstream pipelines can join against the catalog.
    """
    rows = []
    if os.path.isdir(root):
        for group in sorted(os.listdir(root)):
            gdir = os.path.join(root, group)
            if not os.path.isdir(gdir):
                continue
            for name in sorted(os.listdir(gdir)):
                ddir = os.path.join(gdir, name)
                for kind in ("dirty", "clean"):
                    p = os.path.join(ddir, f"{kind}.csv")
                    if os.path.exists(p):
                        rows.append((group, name, kind, p))
    schema = "group string, table string, kind string, path string"
    return spark.createDataFrame(rows, schema=schema)


# ---------------------------------------------------------------------------
# S6 — JDBC source (reference dBoost utils/db.py:4-10)
# ---------------------------------------------------------------------------

def read_jdbc(
    spark: SparkSession,
    url: str,
    query: str | None = None,
    dbtable: str | None = None,
    **options,
) -> DataFrame:
    """Stream rows from a database (reference iter_db).

    Pass exactly one of ``query`` (arbitrary SQL pushed to the DB) or
    ``dbtable`` (a table / aliased subquery). On a cluster, pair
    ``dbtable`` with ``partitionColumn/lowerBound/upperBound/
    numPartitions`` so the read parallelizes into numPartitions
    range-predicated connections instead of funneling through one —
    Spark's JDBC source only allows partitioned reads via ``dbtable``.

    Exercised in-process against embedded Apache Derby (the JDBC driver
    Spark itself ships), including the partitioned path
    (tests/test_functions.py::test_jdbc_roundtrip_derby).
    """
    if (query is None) == (dbtable is None):
        raise ValueError("pass exactly one of query= or dbtable=")
    reader = spark.read.format("jdbc").option("url", url)
    if query is not None:
        reader = reader.option("query", query)
    else:
        reader = reader.option("dbtable", dbtable)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


# ---------------------------------------------------------------------------
# S7 — delimited text stream with type-locking (reference dboost/utils/read.py:8-47)
# ---------------------------------------------------------------------------

def read_delimited_typed(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    floats_only: bool = False,
    schema: T.StructType | None = None,
) -> DataFrame:
    """dBoost's stream_tuples: fixed separator, drop malformed rows.

    The reference locks per-field converters from the first row and
    silently discards rows that fail conversion; Spark's DROPMALFORMED
    mode plus an explicit/inferred schema reproduces that contract
    scalably (schema inference samples instead of trusting row 1).
    """
    reader = (
        spark.read.option("sep", sep)
        .option("header", False)
        .option("mode", "DROPMALFORMED")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    if floats_only:
        # try_cast: ANSI mode makes plain cast THROW on malformed input;
        # the dBoost contract is drop-bad-rows, not fail
        df = df.select(
            *[F.expr(f"try_cast(`{c}` as double)").alias(c) for c in df.columns]
        )
        df = df.na.drop("any")
    return df


# ---------------------------------------------------------------------------
# S8/S4 — sinks
# ---------------------------------------------------------------------------

def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Persist a DataFrame (profiles, violations, reports).

    Parquet by default — the reference pickles profile dicts
    (utils/file_io.py:4-10); a columnar table keeps them queryable and
    partitionable instead.
    """
    df.write.format(fmt).mode(mode).save(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Persist as a Spark bucketed (+sorted) table and return it.

    Rows are hash-co-located by ``bucket_col`` at WRITE time, so every
    later join or aggregation keyed on it reads pre-partitioned data
    and skips the shuffle entirely — the standard pattern for a fact
    table joined repeatedly on the same key at 100 TB (pay one shuffle
    at ingest, none per query). Same ``n_buckets`` on both sides of a
    join ⇒ shuffle-free sort-merge join.
    """
    spark = df.sparkSession
    if mode == "overwrite":
        # a fresh (in-memory) catalog doesn't know tables written by a
        # previous session, but their warehouse directories persist and
        # saveAsTable refuses a non-empty managed location — drop both
        spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        loc = os.path.join(wh.removeprefix("file:"), table_name.lower())
        if wh and os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc)
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(sort_col or bucket_col)
        .saveAsTable(table_name)
    )
    return spark.table(table_name)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (reference dataset.py:50-54)."""
    df.write.option("header", True).mode(mode).csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    drop_malformed: bool = True,
) -> DataFrame:
    """JSON-lines source — the de-facto interchange format for training
    corpora (one JSON document per line). Pass an explicit ``schema``
    in production: without one Spark runs an extra inference pass over
    the data, and a 100 TB corpus should never be read twice for its
    own schema. ``drop_malformed`` discards broken lines (the corpus
    convention — one truncated record must not fail an ingest job);
    with it off, malformed lines surface in the
    ``_corrupt_record`` column for quarantine flows."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if drop_malformed:
        reader = reader.option("mode", "DROPMALFORMED")
    else:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader.json(path)


def write_jsonl(
    df: DataFrame, path: str, mode: str = "overwrite", compression: str | None = None
) -> None:
    """JSON-lines sink (one document per line, optionally compressed —
    gzip/zstd per-file compression is the usual corpus-at-rest form)."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_corpus(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Curated-corpus parquet sink (scale extension — the write side of
    the curation pipeline).

    * ``partition_by`` → Hive-style directories so downstream readers
      partition-prune (e.g. by source or split) instead of scanning
      the whole corpus.
    * ``sort_by`` → ``sortWithinPartitions`` before writing: clustered
      values compress far better (RLE/dictionary pages) and give
      readers min/max-pruned row groups; a within-partition sort adds
      NO extra shuffle on top of the partitioning one.
    * ``maxRecordsPerFile`` caps file size so a skewed partition
      (one giant source) becomes many parallel-readable files instead
      of one unsplittable-by-task monolith.
    """
    out = df
    if partition_by:
        # co-locate each output partition's rows before the file write:
        # without this, every task writes a sliver of every partition
        # (tasks × partitions tiny files)
        out = out.repartition(*[F.col(c) for c in partition_by])
    if sort_by:
        out = out.sortWithinPartitions(*[F.col(c) for c in sort_by])
    w = out.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
