"""Readers: service parquet (schema-aligned), zones CSV.

SURVEY §2.1: S1 (parquet scan), S3 (CSV scan), S17 (introspection
helpers)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .drift import align_to_schema
from .tlc_schemas import RAW_SCHEMAS


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
