"""Sinks: small literal frames, the ingestion-log rows and the
training-shard writer.

Every warehouse table is written through ``sources.manifest`` instead:
its commit log makes a rebuild atomic, and an append tagged with its
source file idempotent, even under concurrent writers (reference: the
``source_file NOT IN (...)`` anti-join, src/database/schema_drift.py:213-215
+ pre-check loader.py:147-165)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

# ingestion_log.log_id = unix_micros(ingestion_timestamp) * slots + row
# position: room for this many rows per append before ids could collide
_LOG_ID_SLOTS = 1000


def literal_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A few driver-side rows with a declared DDL schema.  Built through
    pandas (Arrow), the rows plan as one ``LocalRelation``; a list passed
    to ``createDataFrame`` plans an RDD scan over several partitions,
    which takes about twice as long to write."""
    import pandas as pd

    names = DataType.fromDDL(schema).names
    return spark.createDataFrame(pd.DataFrame.from_records(rows, columns=names), schema)


def ingestion_log_rows(
    spark: SparkSession,
    entries: list[dict],
) -> DataFrame:
    """ingestion_log rows (S11).  The reference's SEQUENCE-generated
    log_id (01_raw_tables.sql:130) becomes
    ``unix_micros(ingestion_timestamp) * 1000 + position``: unique across
    appends and ordered by append time, without coordination."""
    if len(entries) > _LOG_ID_SLOTS:
        raise ValueError(f"at most {_LOG_ID_SLOTS} ingestion_log rows per append")
    df = literal_frame(
        spark,
        [
            (
                e["service_type"],
                e["source_file"],
                int(e.get("rows_loaded", 0)),
                int(e.get("file_size_bytes", 0)),
                e.get("status", "success"),
                e.get("error_message"),
                pos,
            )
            for pos, e in enumerate(entries)
        ],
        "service_type string, source_file string, rows_loaded long, "
        "file_size_bytes long, status string, error_message string, pos long",
    )
    ts = F.current_timestamp()  # one value per query, so log_id and the column agree
    return df.select(
        *[c for c in df.columns if c != "pos"],
        (F.unix_micros(ts) * _LOG_ID_SLOTS + F.col("pos")).alias("log_id"),
        ts.alias("ingestion_timestamp"),
    )


def write_corpus_shards(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("split", "lang"),
    order_col: str = "doc_id",
    max_records_per_file: int = 100_000,
) -> None:
    """Training-shard writer: the layout a dataloader consumes.

    - ``partitionBy(split, lang)`` so train/val/test and per-domain reads
      are directory prunes, never filters over mixed files;
    - ``repartition(partition_cols)`` FIRST — without it every upstream
      task writes a file into every partition dir (tasks × partitions
      small files, the classic 100 TB mistake); with it each partition's
      rows land in one task (AQE splits oversized ones);
    - ``sortWithinPartitions(order_col)`` for deterministic shard
      content (resumable training needs shard k to be the same bytes on
      re-run) and better parquet compression;
    - ``maxRecordsPerFile`` bounds shard size so loader workers get
      uniform units regardless of how big a (split, domain) is.
    """
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )
