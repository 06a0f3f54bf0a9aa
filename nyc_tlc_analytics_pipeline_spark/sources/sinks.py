"""Sinks: append / idempotent-append / overwrite / export, plus the
ingestion-log table.

Idempotency model (reference: the ``source_file NOT IN (...)`` anti-join,
src/database/schema_drift.py:213-215 + pre-check loader.py:147-165):
bronze tables are laid out as ``path/source_file=<name>/`` partition
directories, so "is this file already loaded" is an O(1) directory check
and re-loading is a DYNAMIC partition overwrite of that one partition.

Safety model: REPLAY-safe, not concurrent-writer-safe.  Sequential
re-runs of the same load (crash + retry, stale pre-check then re-run)
converge to a single clean copy of the partition.  Two writers running
AT THE SAME TIME against the same base path share the default
FileOutputCommitter ``_temporary`` staging directory and can interleave
each other's delete/commit phases, leaving duplicated or partial
partition contents — that case needs a commit-coordinated format; use
``sources.manifest`` (atomic manifest-swap commit log) or an external
lock for genuinely concurrent writers (SURVEY §7.3 item 3)."""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

# ingestion_log.log_id = unix_micros(ingestion_timestamp) * slots + row
# position: room for this many rows per append before ids could collide
_LOG_ID_SLOTS = 1000


def _partition_value(source_file: str) -> str:
    # keep partition dir names filesystem-safe
    return re.sub(r"[^A-Za-z0-9._-]", "_", source_file)


def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter filled in by the next action over it, so a
    write reports its row count without a second job.  Read
    ``obs.get["rows"]`` only after that action ran: before, it blocks."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def literal_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A few driver-side rows with a declared DDL schema.  Built through
    pandas (Arrow), the rows plan as one ``LocalRelation``; a list passed
    to ``createDataFrame`` plans an RDD scan over several partitions,
    which takes about twice as long to write."""
    import pandas as pd

    names = DataType.fromDDL(schema).names
    return spark.createDataFrame(pd.DataFrame.from_records(rows, columns=names), schema)


def append(df: DataFrame, path: str) -> None:
    """Plain append sink (S6)."""
    df.write.mode("append").parquet(path)


def overwrite(df: DataFrame, path: str, partition_by: list[str] | None = None) -> int:
    """Truncate-rebuild sink (S10).  Returns the rows written."""
    out, obs = counted(df)
    w = out.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return obs.get["rows"]


def is_file_loaded(bronze_path: str, source_file: str) -> bool:
    """O(1) idempotency check against the partition layout (S7)."""
    return os.path.isdir(
        os.path.join(bronze_path, f"source_file={_partition_value(source_file)}")
    )


def idempotent_append(df: DataFrame, bronze_path: str, source_file: str) -> bool:
    """Load one source file into the bronze table unless already present.
    Returns True if written, False if skipped (already loaded).

    The write is a DYNAMIC partition overwrite of the single
    ``source_file=<name>/`` partition, not an append: a crashed load
    that is RE-RUN (sequential replay) ends up with exactly one clean
    copy of the file's rows instead of double-appended duplicates.  The
    pre-check stays as a cheap skip for the common already-loaded case.
    This does NOT protect two loaders writing concurrently (shared
    ``_temporary`` staging dir — see module docstring); for that, use
    ``sources.manifest.ManifestTable.append`` which serializes commits
    through an atomic manifest swap."""
    if is_file_loaded(bronze_path, source_file):
        return False
    out = df.withColumn("source_file", F.lit(_partition_value(source_file))).withColumn(
        "ingestion_timestamp", F.current_timestamp()
    )
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source_file")
        .parquet(bronze_path)
    )
    return True


def export_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """CSV export sink (S12; reference: COPY ... TO csv)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def to_pandas(df: DataFrame):
    """Result sink for CLI display (S13; reference: fetchdf)."""
    return df.toPandas()


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
