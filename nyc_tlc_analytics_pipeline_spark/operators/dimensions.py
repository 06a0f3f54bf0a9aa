"""Dimension builders: zones, date spine, time-of-day, service, company.

Faithful to the reference DDL + population SQL
(reference: sql/ddl/02_dimension_tables.sql).  All dims are tiny
(24–1,826 rows) and meant to be broadcast at join time (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit, when

from ..functions.scalar import day_of_week
from ..sources.sinks import literal_frame

CONGESTION_FEE_DATE = "2025-01-05"  # epoch split (02_dimension_tables.sql:82-83)


def build_dim_zones(raw_zones: DataFrame) -> DataFrame:
    """Zone lookup + derived flags (02_dimension_tables.sql:9-37)."""
    return raw_zones.select(
        col("LocationID").cast("int").alias("location_id"),
        col("Borough").alias("borough"),
        col("Zone").alias("zone"),
        col("service_zone"),
        (col("Zone").like("%Airport%") | (col("service_zone") == "Airports")).alias("is_airport"),
        (col("Borough") == "Manhattan").alias("is_manhattan"),
    )


def build_dim_date(
    spark: SparkSession, start: str = "2021-01-01", end: str = "2025-12-31"
) -> DataFrame:
    """Date spine with calendar attributes + analysis flags
    (02_dimension_tables.sql:41-88).  Generated with sequence+explode —
    the Spark form of generate_series (SURVEY §2.1 S14)."""
    spine = spark.sql(
        f"SELECT explode(sequence(to_date('{start}'), to_date('{end}'), "
        f"interval 1 day)) AS date_id"
    )
    d = col("date_id")
    return spine.select(
        d,
        F.year(d).alias("year"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"),
        F.quarter(d).alias("quarter"),
        day_of_week(d).alias("day_of_week"),  # Sun=0 (reference convention)
        F.date_format(d, "EEEE").alias("day_name"),
        F.date_format(d, "MMMM").alias("month_name"),
        day_of_week(d).isin(0, 6).alias("is_weekend"),
        (
            ((F.month(d) == 1) & (F.dayofmonth(d) == 1))
            | ((F.month(d) == 7) & (F.dayofmonth(d) == 4))
            | ((F.month(d) == 12) & (F.dayofmonth(d) == 25))
        ).alias("is_holiday"),
        F.weekofyear(d).alias("week_of_year"),
        F.dayofyear(d).alias("day_of_year"),
        (d < lit(CONGESTION_FEE_DATE).cast("date")).alias("is_before_congestion_fee"),
        (d >= lit(CONGESTION_FEE_DATE).cast("date")).alias("is_after_congestion_fee"),
    )


def build_dim_time(spark: SparkSession) -> DataFrame:
    """Hour-of-day attributes (02_dimension_tables.sql:92-131)."""
    hours = spark.range(0, 24).select(col("id").cast("int").alias("hour"))
    h = col("hour")
    return hours.select(
        h,
        when(h == 0, "12 AM")
        .when(h < 12, F.concat(h.cast("string"), lit(" AM")))
        .when(h == 12, "12 PM")
        .otherwise(F.concat((h - 12).cast("string"), lit(" PM")))
        .alias("hour_12"),
        when(h.between(6, 11), "Morning")
        .when(h.between(12, 17), "Afternoon")
        .when(h.between(18, 21), "Evening")
        .otherwise("Night")
        .alias("period"),
        (h.between(7, 9) | h.between(16, 19)).alias("is_rush_hour"),
        when(h.between(6, 20), "Day (6am-9pm)").otherwise("Night (9pm-6am)").alias("time_bucket"),
    )


def build_dim_service(spark: SparkSession) -> DataFrame:
    """Inline VALUES dim (02_dimension_tables.sql:135-146)."""
    rows = [
        ("yellow", "Yellow Taxi", "Traditional Taxi", "Yellow medallion taxis operating citywide"),
        ("green", "Green Taxi", "Traditional Taxi", "Green cabs operating outside Manhattan core"),
        ("hvfhv", "HVFHV", "Ride-Hailing", "High-volume for-hire vehicles (Uber, Lyft, Via, Juno)"),
    ]
    return literal_frame(
        spark, rows, "service_type string, service_name string, service_category string, description string"
    )


def build_dim_hvfhs_company(spark: SparkSession) -> DataFrame:
    """HVFHS license lookup (02_dimension_tables.sql:150-162)."""
    rows = [
        ("HV0002", "Juno", True),
        ("HV0003", "Uber", True),
        ("HV0004", "Via", True),
        ("HV0005", "Lyft", True),
    ]
    return literal_frame(
        spark, rows, "hvfhs_license_num string, company_name string, is_active boolean"
    )


def build_all_dims(spark: SparkSession, raw_zones: DataFrame | None = None) -> dict[str, DataFrame]:
    dims = {
        "dim_date": build_dim_date(spark),
        "dim_time": build_dim_time(spark),
        "dim_service": build_dim_service(spark),
        "dim_hvfhs_company": build_dim_hvfhs_company(spark),
    }
    if raw_zones is not None:
        dims["dim_zones"] = build_dim_zones(raw_zones)
    return dims
