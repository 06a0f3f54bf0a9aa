"""Readers: service parquet (schema-aligned), zones CSV, file validation.

SURVEY §2.1: S1 (parquet scan), S3 (CSV scan), S5 (validation source),
S17 (introspection helpers)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .drift import DriftReport, align_to_schema, detect_drift
from .tlc_schemas import RAW_SCHEMAS


def validate_parquet(spark: SparkSession, path: str, expected: StructType | None = None):
    """File validation source (S5): row count, column list, drift report."""
    df = spark.read.parquet(path)
    report = detect_drift(df.schema, expected) if expected is not None else DriftReport()
    return {
        "path": path,
        "row_count": df.count(),
        "columns": df.columns,
        "drift": report,
        "valid": not report.is_breaking,
    }


def read_service_parquet(spark: SparkSession, path: str, service: str) -> DataFrame:
    """Read one monthly service file, aligned to the registry schema
    (missing cols → NULL, extras dropped, types cast — the Spark form of
    the reference's drift-evolved load, SURVEY §3.3)."""
    return align_to_schema(spark.read.parquet(path), RAW_SCHEMAS[service], strict_types=False)


# the taxi-zone lookup's published columns, in file order
ZONES_SCHEMA = "LocationID int, Borough string, Zone string, service_zone string"


def read_zones_csv(spark: SparkSession, path: str) -> DataFrame:
    """Taxi-zone lookup CSV (S3; reference: read_csv_auto,
    src/database/schema.py:63-66) with its declared schema, so no
    inference pass runs.  ``enforceSchema=false`` checks the header
    against the declared names: a file whose columns are reordered or
    renamed fails when read instead of being read by position."""
    return (
        spark.read.schema(ZONES_SCHEMA)
        .option("header", True)
        .option("enforceSchema", False)
        .csv(path)
    )


def table_info(df: DataFrame) -> dict:
    """Catalog introspection (S17): schema + row count."""
    return {
        "columns": [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        "row_count": df.count(),
    }


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> "DataFrame":
    """JSON-Lines corpus source — the interchange format LLM-data
    pipelines actually exchange (one JSON doc per line, splittable, so a
    100 TB corpus parallelizes by line ranges like CSV).

    Pass ``schema`` in production: schema inference is a FULL extra pass
    over the data before the real read (2× the I/O at any scale) and can
    widen types differently between samples; an explicit schema also
    pushes column pruning into the JSON parser (Spark only materializes
    requested fields).  ``multiLine`` stays False — multiline JSON is
    unsplittable (one file = one task), which is the scale killer."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: "DataFrame", path: str, compression: str | None = "gzip") -> None:
    """JSON-Lines corpus sink.  Line-delimited and (by default) gzip per
    part-file: gzip is unsplittable per FILE but the dataset stays
    parallel because it is many part-files — the standard corpus-export
    trade.  Pass ``compression=None`` for splittable raw text."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_orc(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> "DataFrame":
    """ORC columnar source (built into Spark — no external jar).  Same
    scan posture as parquet: predicate pushdown, column pruning, and
    stripe-level splitting all apply, so a warehouse that standardized
    on ORC (common in Hive estates) reads with the identical plan shape
    the parquet path gets.  Pass ``schema`` to skip footer inference on
    very wide tables."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: "DataFrame",
    path: str,
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """ORC sink with zstd by default (best ratio/speed trade of the
    built-in codecs).  ``partition_by`` produces the same
    directory-partitioned layout the parquet sinks use, so partition
    pruning works for downstream readers."""
    w = df.write.mode("overwrite").option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
