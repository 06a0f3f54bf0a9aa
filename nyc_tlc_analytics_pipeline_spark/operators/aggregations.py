"""Gold-layer aggregate builders.

The reference pre-computes four aggregate tables with truncate-rebuild
semantics (reference: src/transformations/aggregations.py:12-234; note
``build_all`` builds only these four — ``agg_congestion_fee_impact`` is
declared in DDL but never built, SURVEY §1.1).  Here each builder is a
``groupBy().agg()`` DataFrame meant to be materialized with
``write.mode("overwrite")`` (S10).

Scale notes: each builder is one hash-aggregate shuffle keyed on its
GROUP BY; exact percentiles (``F.percentile``) buffer per group exactly
like DuckDB's PERCENTILE_CONT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit, when


def build_pricing_by_zone_hour(fact: DataFrame) -> DataFrame:
    """agg_pricing_by_zone_hour (aggregations.py:12-68): per
    (service, zone, hour, date) pricing distribution over valid trips with
    sane price_per_mile."""
    return (
        fact.filter(
            (col("is_valid") == True)  # noqa: E712
            & col("price_per_mile").isNotNull()
            & col("price_per_mile").between(0.5, 50)
        )
        .groupBy(
            "service_type",
            "pickup_zone_id",
            "pickup_hour",
            col("pickup_date").alias("trip_date"),
        )
        .agg(
            F.count("*").alias("trip_count"),
            F.sum(when(col("is_valid"), 1).otherwise(0)).alias("valid_trip_count"),
            F.avg("trip_distance_miles").alias("avg_trip_distance"),
            F.percentile("trip_distance_miles", lit(0.5)).alias("median_trip_distance"),
            F.sum("trip_distance_miles").alias("total_trip_miles"),
            F.avg("trip_duration_minutes").alias("avg_trip_duration"),
            F.percentile("trip_duration_minutes", lit(0.5)).alias("median_trip_duration"),
            F.avg("price_per_mile").alias("avg_price_per_mile"),
            F.percentile("price_per_mile", lit(0.5)).alias("median_price_per_mile"),
            F.percentile("price_per_mile", lit(0.25)).alias("p25_price_per_mile"),
            F.percentile("price_per_mile", lit(0.75)).alias("p75_price_per_mile"),
            F.avg("price_per_minute").alias("avg_price_per_minute"),
            F.percentile("price_per_minute", lit(0.5)).alias("median_price_per_minute"),
            F.percentile("price_per_minute", lit(0.25)).alias("p25_price_per_minute"),
            F.percentile("price_per_minute", lit(0.75)).alias("p75_price_per_minute"),
            F.avg("total_fare").alias("avg_total_fare"),
            F.percentile("total_fare", lit(0.5)).alias("median_total_fare"),
            F.sum("total_fare").alias("total_revenue"),
            lit(0).alias("trips_with_cbd_fee"),
            lit(0).alias("avg_cbd_fee"),
            lit(0).alias("total_cbd_fee"),
        )
    )


def build_hvfhv_take_rates(fact: DataFrame) -> DataFrame:
    """agg_hvfhv_take_rates (aggregations.py:70-120): HVFHV platform
    economics per (date, zone, hour, license), HAVING count>=5."""
    return (
        fact.filter(
            (col("service_type") == "hvfhv")
            & (col("is_valid") == True)  # noqa: E712
            & col("take_rate").isNotNull()
            & col("take_rate").between(0, 1)
        )
        .groupBy(
            col("pickup_date").alias("trip_date"),
            "pickup_zone_id",
            "pickup_hour",
            "hvfhs_license_num",
        )
        .agg(
            F.count("*").alias("trip_count"),
            F.avg("trip_distance_miles").alias("avg_trip_distance"),
            F.avg("trip_duration_minutes").alias("avg_trip_duration"),
            F.percentile("take_rate", lit(0.5)).alias("median_take_rate"),
            F.percentile("take_rate", lit(0.25)).alias("p25_take_rate"),
            F.percentile("take_rate", lit(0.75)).alias("p75_take_rate"),
            F.avg("take_rate").alias("avg_take_rate"),
            F.stddev_samp("take_rate").alias("stddev_take_rate"),
            F.avg("driver_pay").alias("avg_driver_pay"),
            F.percentile("driver_pay", lit(0.5)).alias("median_driver_pay"),
            F.sum("driver_pay").alias("total_driver_pay"),
            F.avg(col("total_fare") - col("driver_pay")).alias("avg_platform_commission"),
            F.sum(col("total_fare") - col("driver_pay")).alias("total_platform_commission"),
            F.avg("total_fare").alias("avg_total_fare"),
            F.sum("total_fare").alias("total_revenue"),
        )
        .filter(col("trip_count") >= 5)
    )


def build_market_share(fact: DataFrame) -> DataFrame:
    """agg_market_share (aggregations.py:122-170): per (date, zone) trip and
    revenue shares per service, HAVING count>=10."""
    def svc_count(s: str) -> Column:
        return F.sum(when(col("service_type") == s, 1).otherwise(0))

    def svc_rev(s: str) -> Column:
        return F.sum(when(col("service_type") == s, col("total_fare")).otherwise(0))

    n = F.count("*")
    return (
        fact.filter(col("is_valid") == True)  # noqa: E712
        .groupBy(col("pickup_date").alias("trip_date"), "pickup_zone_id")
        .agg(
            svc_count("yellow").alias("yellow_trips"),
            svc_count("green").alias("green_trips"),
            svc_count("hvfhv").alias("hvfhv_trips"),
            n.alias("total_trips"),
            (svc_count("yellow").cast("double") / F.nullif(n, lit(0))).alias("yellow_share"),
            (svc_count("green").cast("double") / F.nullif(n, lit(0))).alias("green_share"),
            (svc_count("hvfhv").cast("double") / F.nullif(n, lit(0))).alias("hvfhv_share"),
            F.avg(when(col("service_type") == "yellow", col("price_per_mile"))).alias(
                "yellow_avg_price_per_mile"
            ),
            F.avg(when(col("service_type") == "green", col("price_per_mile"))).alias(
                "green_avg_price_per_mile"
            ),
            F.avg(when(col("service_type") == "hvfhv", col("price_per_mile"))).alias(
                "hvfhv_avg_price_per_mile"
            ),
            svc_rev("yellow").alias("yellow_total_revenue"),
            svc_rev("green").alias("green_total_revenue"),
            svc_rev("hvfhv").alias("hvfhv_total_revenue"),
            F.sum("total_fare").alias("total_revenue"),
            (svc_rev("yellow") / F.nullif(F.sum("total_fare"), lit(0))).alias(
                "yellow_revenue_share"
            ),
            (svc_rev("green") / F.nullif(F.sum("total_fare"), lit(0))).alias(
                "green_revenue_share"
            ),
            (svc_rev("hvfhv") / F.nullif(F.sum("total_fare"), lit(0))).alias(
                "hvfhv_revenue_share"
            ),
        )
        .filter(col("total_trips") >= 10)
    )


def build_daily_summary(fact: DataFrame) -> DataFrame:
    """agg_daily_summary (aggregations.py:172-213): per-day totals + data
    quality score (no HAVING)."""
    def svc_count(s: str) -> Column:
        return F.sum(when(col("service_type") == s, 1).otherwise(0))

    def svc_rev(s: str) -> Column:
        return F.sum(when(col("service_type") == s, col("total_fare")).otherwise(0))

    valid = F.sum(when(col("is_valid"), 1).otherwise(0))
    return fact.groupBy(col("pickup_date").alias("trip_date")).agg(
        F.count("*").alias("total_trips"),
        F.sum("total_fare").alias("total_revenue"),
        F.avg("trip_distance_miles").alias("avg_trip_distance"),
        F.avg("trip_duration_minutes").alias("avg_trip_duration"),
        svc_count("yellow").alias("yellow_trips"),
        svc_count("green").alias("green_trips"),
        svc_count("hvfhv").alias("hvfhv_trips"),
        svc_rev("yellow").alias("yellow_revenue"),
        svc_rev("green").alias("green_revenue"),
        svc_rev("hvfhv").alias("hvfhv_revenue"),
        valid.alias("total_valid_trips"),
        (valid.cast("double") / F.nullif(F.count("*"), lit(0))).alias("data_quality_score"),
        lit(0).alias("total_cbd_fees"),
        lit(0).alias("trips_with_cbd_fee"),
    )


def build_all(fact: DataFrame) -> dict[str, DataFrame]:
    """The four built aggregates (aggregations.py:215-234)."""
    return {
        "agg_pricing_by_zone_hour": build_pricing_by_zone_hour(fact),
        "agg_hvfhv_take_rates": build_hvfhv_take_rates(fact),
        "agg_market_share": build_market_share(fact),
        "agg_daily_summary": build_daily_summary(fact),
    }
