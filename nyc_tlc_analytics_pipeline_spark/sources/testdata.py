"""Loaders for the driver-generated synthetic testdata.

``/root/testdata/sf*/`` holds one parquet file per table (TESTDATA.md):
TPC-H-ish ``region nation customer supplier part orders lineitem`` plus
``events`` (stream-shaped), ``documents`` (text corpus) and ``embeddings``
(vector column).  The conformance catalog in ``plans.catalog`` runs against
these tables; the same loader is used by ``__spark_entry__`` and bench.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES: tuple[str, ...] = (
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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_session_conf(spark: SparkSession) -> None:
    """The conformance queries must produce identical results no matter who
    built the SparkSession (the driver harness builds a vanilla one), so the
    two semantics-critical confs are (re)applied here:

    - ``nanosAsLong``: events.parquet stores TIMESTAMP(NANOS), which Spark
      otherwise refuses to read (PARQUET_TYPE_ILLEGAL);
    - UTC session timezone: hour()/window() on the (LTZ) event timestamps
      must match the DuckDB oracle's naive-UTC interpretation;
    - ``inferTimestampNTZ`` off: parquet TIMESTAMP(isAdjustedToUTC=false)
      otherwise surfaces as TIMESTAMP_NTZ in Spark 4, which rejects
      numeric casts and breaks schema parity with the streaming payload
      schemas (TimestampType).  The engine-wide policy is ONE timestamp
      type — TimestampType (LTZ) under a UTC session, which is
      value-identical to the oracle's naive-UTC reading.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


#: (applicationId, table path, inode, size, mtime_ns) -> source
#: DataFrame.  DataFrames are immutable, so handing every caller the
#: same object is safe; building one costs ~0.15 s of driver time (file
#: listing + footer schema) and a multi-query session loads the same
#: static tables hundreds of times.  The memo holds PLANS, never data —
#: nothing about what a query computes is cached — and the file's
#: identity is part of the key, so a table rewritten at the same path
#: is read afresh.
_TABLE_MEMO: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_conf(spark)
    path = table_path(sf_dir, name)
    st = os.stat(path)
    key = (spark.sparkContext.applicationId, path, st.st_ino, st.st_size, st.st_mtime_ns)
    df = _TABLE_MEMO.get(key)
    if df is None:
        df = spark.read.parquet(path)
        if name == "events":
            df = _normalize_event_ts(df)
        _TABLE_MEMO[key] = df
    return df


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like load_table, but guarantees enough input splits to use the
    cluster.  Small single-row-group parquet files arrive as ONE split
    (row-group granularity caps splitting below maxPartitionBytes), which
    serializes every expression-heavy map stage onto one core; a cheap
    round-robin repartition unlocks the other N−1.  No-op when the source
    is already split (the 100 TB case)."""
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    # split probe memoized per (session, analyzed plan) — core.nparts:
    # the raw RDD conversion costs 0.1-0.3 s of driver time per call
    from ..core.nparts import plan_num_partitions

    if plan_num_partitions(df) < max(2, target // 2):
        df = df.repartition(target)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to TimestampType (the engine-wide policy) whatever
    the parquet writer produced:

    - TIMESTAMP(NANOS) + ``nanosAsLong`` → LongType nanos-since-epoch:
      convert via ``timestamp_micros`` (truncating, matching DuckDB's
      ns→us cast semantics);
    - TIMESTAMP(isAdjustedToUTC=false) read by a session built before
      ``_ensure_session_conf`` applied → TIMESTAMP_NTZ: cast to LTZ —
      wall-clock-preserving under the UTC session timezone, matching the
      oracle's naive-UTC interpretation.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view (for spark.sql)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
