"""SparkSession factory.

The reference pipeline tunes its embedded engine with ``SET memory_limit``,
``SET threads`` and ``preserve_insertion_order=false``
(reference: src/database/connection.py:45-51).  The Spark-native analogue is
a session pre-configured for the same workload shape: star-schema joins over
a large fact table, heavy group-bys with exact percentiles, and wide
parquet scans.

Design notes for 100 TB scale (tested on local[*]):

- AQE is on: runtime partition coalescing, skew-join splitting and
  dynamic join-strategy switching replace any hand-scheduling.
- ``spark.sql.shuffle.partitions`` defaults to a small number locally; on a
  real cluster this is overridden (or left to AQE's coalescing with a high
  initial value).
- Arrow execution is enabled so any pandas interchange (``toPandas``,
  pandas UDFs in the data-pipeline extensions) uses columnar batches.
- Session timezone is pinned to UTC so date/hour extraction is
  deterministic and matches the DuckDB oracle used in differential tests.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "nyc-tlc-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    ``shuffle_partitions`` to ``$SPARK_GRAFT_CPUS`` (or the CPUs this
    process may run on).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = (
            int(cpus_env) if cpus_env.isdigit() else len(os.sched_getaffinity(0))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- deterministic semantics ---------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # lax casts like the reference engine's string-vs-date compares
        # (reference: sql/analytics/12_cbd_congestion_fee_impact.sql:15)
        .config("spark.sql.ansi.enabled", "false")
        # --- adaptive execution --------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- columnar interchange ------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet TIMESTAMP(NANOS) (e.g. the events stream table) is not a
        # Spark type; read it as LongType nanos and convert at the source
        # (sources.testdata normalizes to TimestampType micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # engine-wide timestamp policy: ONE timestamp type (TimestampType
        # under the UTC session tz).  Parquet TIMESTAMP(isAdjustedToUTC=
        # false) would otherwise surface as TIMESTAMP_NTZ (Spark 4
        # inference default), which rejects numeric casts and breaks
        # schema parity with streaming payload schemas
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # --- scan tuning ---------------------------------------------
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # quieter local runs
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
