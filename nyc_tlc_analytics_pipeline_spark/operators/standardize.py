"""Standardization: raw service tables → unified ``fact_trips``.

Faithful re-expression of the reference's per-service INSERT…SELECTs
(reference: src/transformations/standardize.py:24-238) as narrow DataFrame
projections — no shuffle except the PK dedup — unified by ``unionByName``
(reference: standardize.py:244-261 runs them as three sequential inserts,
i.e. a logical UNION ALL).

Scale design (100 TB):

- each per-service transform is a pure projection: it pipelines with the
  parquet scan, no shuffle, full whole-stage codegen;
- yellow/green dedup (the reference's ``INSERT OR IGNORE`` on the md5
  trip_id, standardize.py:24,90) is ONE hash-shuffle on a uniformly
  distributed key — no skew by construction;
- the reference's 5M-row LIMIT/OFFSET batching for HVFHV
  (standardize.py:142-241, an OOM workaround) is deliberately absent:
  partition-parallel execution replaces it (SURVEY §4);
- the fact table is written partitioned by ``service_type, pickup_date``
  which replaces the reference's B-tree indexes with partition pruning
  (reference: sql/ddl/03_fact_tables.sql:61-65; SURVEY §4).

Schema note: the unified schema INCLUDES ``dropoff_datetime``,
``dropoff_zone_id`` and ``is_shared_match`` — columns three shipped
analytics queries need but the reference's fact table dropped
(SURVEY §1.4 ⚠; reference: 06_airport_trips_analysis.sql:20,
08_shared_rides_analysis.sql:6-7, 10_data_quality_summary.sql:15,20).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, concat, lit

from ..functions.scalar import day_of_week, epoch_minutes, nullif_div

# Column order of the unified fact table (superset of the reference's
# fact_trips, sql/ddl/03_fact_tables.sql:12-58, plus the §1.4 fix columns).
FACT_COLUMNS = [
    "trip_id",
    "service_type",
    "hvfhs_license_num",
    "pickup_datetime",
    "dropoff_datetime",
    "pickup_date",
    "pickup_hour",
    "pickup_day_of_week",
    "pickup_zone_id",
    "dropoff_zone_id",
    "trip_distance_miles",
    "trip_duration_minutes",
    "base_fare",
    "tips",
    "tolls",
    "surcharges",
    "airport_fee",
    "taxes",
    "total_fare",
    "driver_pay",
    "take_rate",
    "price_per_mile",
    "price_per_minute",
    "avg_speed_mph",
    "is_shared_request",
    "is_shared_match",
    "is_valid",
    "source_file",
]


def _common_derived(pickup, dropoff, distance, total_fare):
    """Derived metrics shared by yellow/green (reference formulas §2.9)."""
    duration_min = epoch_minutes(pickup, dropoff)
    return {
        "pickup_date": pickup.cast("date"),
        "pickup_hour": F.hour(pickup),
        "pickup_day_of_week": day_of_week(pickup),  # Sun=0 convention
        "trip_duration_minutes": duration_min,
        "price_per_mile": nullif_div(total_fare, distance),
        "price_per_minute": nullif_div(total_fare, duration_min),
        "avg_speed_mph": nullif_div(distance, duration_min / F.lit(60.0)),
    }


def _source_file_col(df: DataFrame):
    return col("source_file") if "source_file" in df.columns else F.input_file_name()


def _standardize_taxi(raw: DataFrame, service: str, ts: str, airport_fee: Column) -> DataFrame:
    """Yellow/green taxi → fact rows: one projection, parameterized by the
    service, its timestamp prefix (``tpep``/``lpep``) and its airport-fee
    column.  ``trip_id`` is md5(service initial ‖ pickup ‖ distance)."""
    pickup, dropoff = col(f"{ts}_pickup_datetime"), col(f"{ts}_dropoff_datetime")
    distance, total = col("trip_distance"), col("total_amount")
    d = _common_derived(pickup, dropoff, distance, total)
    return raw.filter(pickup.isNotNull() & dropoff.isNotNull()).select(
        F.md5(concat(lit(service[0]), pickup.cast("string"), distance.cast("string"))).alias(
            "trip_id"
        ),
        lit(service).alias("service_type"),
        lit(None).cast("string").alias("hvfhs_license_num"),
        pickup.alias("pickup_datetime"),
        dropoff.alias("dropoff_datetime"),
        d["pickup_date"].alias("pickup_date"),
        d["pickup_hour"].alias("pickup_hour"),
        d["pickup_day_of_week"].alias("pickup_day_of_week"),
        col("PULocationID").cast("int").alias("pickup_zone_id"),
        col("DOLocationID").cast("int").alias("dropoff_zone_id"),
        distance.alias("trip_distance_miles"),
        d["trip_duration_minutes"].alias("trip_duration_minutes"),
        col("fare_amount").alias("base_fare"),
        col("tip_amount").alias("tips"),
        col("tolls_amount").alias("tolls"),
        (col("extra") + col("improvement_surcharge") + col("congestion_surcharge")).alias(
            "surcharges"
        ),
        airport_fee.alias("airport_fee"),
        col("mta_tax").alias("taxes"),
        total.alias("total_fare"),
        lit(None).cast("double").alias("driver_pay"),
        lit(None).cast("double").alias("take_rate"),
        d["price_per_mile"].alias("price_per_mile"),
        d["price_per_minute"].alias("price_per_minute"),
        d["avg_speed_mph"].alias("avg_speed_mph"),
        lit(None).cast("boolean").alias("is_shared_request"),
        lit(None).cast("boolean").alias("is_shared_match"),
        ((total >= 0) & (dropoff > pickup) & (distance >= 0)).alias("is_valid"),
        _source_file_col(raw).alias("source_file"),
    )


def standardize_yellow(raw: DataFrame) -> DataFrame:
    """Yellow taxi → fact rows (reference: standardize.py:24-76)."""
    return _standardize_taxi(raw, "yellow", "tpep", col("Airport_fee"))


def standardize_green(raw: DataFrame) -> DataFrame:
    """Green taxi → fact rows (reference: standardize.py:78-137); green has
    no airport fee column → NULL (standardize.py:117)."""
    return _standardize_taxi(raw, "green", "lpep", lit(None).cast("double"))


def standardize_hvfhv(raw: DataFrame) -> DataFrame:
    """HVFHV → fact rows (reference: standardize.py:167-226).

    - ``total_fare`` = base + tips + tolls + bcf + sales_tax +
      congestion_surcharge + airport_fee (standardize.py:203 — deliberately
      NOT including cbd_congestion_fee, unlike the doc formula).
    - ``trip_id`` = 'h_' + unique id.  The reference uses
      'h_<offset>_<ROW_NUMBER() OVER ()>' (standardize.py:182) — explicitly
      nondeterministic "unique but arbitrary"; ``monotonically_increasing_id``
      has the same contract without a global sort (SURVEY §7.2).
    - no dedup for HVFHV (plain INSERT, standardize.py:168).
    """
    pickup, dropoff = col("pickup_datetime"), col("dropoff_datetime")
    distance = col("trip_miles")
    total = (
        col("base_passenger_fare")
        + col("tips")
        + col("tolls")
        + col("bcf")
        + col("sales_tax")
        + col("congestion_surcharge")
        + col("airport_fee")
    )
    duration_min = col("trip_time") / F.lit(60.0)  # source seconds
    return raw.filter(pickup.isNotNull() & dropoff.isNotNull()).select(
        concat(lit("h_"), F.monotonically_increasing_id().cast("string")).alias("trip_id"),
        lit("hvfhv").alias("service_type"),
        col("hvfhs_license_num"),
        pickup.alias("pickup_datetime"),
        dropoff.alias("dropoff_datetime"),
        pickup.cast("date").alias("pickup_date"),
        F.hour(pickup).alias("pickup_hour"),
        day_of_week(pickup).alias("pickup_day_of_week"),
        col("PULocationID").cast("int").alias("pickup_zone_id"),  # BIGINT→INT coercion
        col("DOLocationID").cast("int").alias("dropoff_zone_id"),
        distance.alias("trip_distance_miles"),
        duration_min.alias("trip_duration_minutes"),
        col("base_passenger_fare").alias("base_fare"),
        col("tips").alias("tips"),
        col("tolls").alias("tolls"),
        (col("bcf") + col("congestion_surcharge")).alias("surcharges"),
        col("airport_fee").alias("airport_fee"),
        col("sales_tax").alias("taxes"),
        total.alias("total_fare"),
        col("driver_pay"),
        nullif_div(total - col("driver_pay"), total).alias("take_rate"),
        nullif_div(total, distance).alias("price_per_mile"),
        nullif_div(total, duration_min).alias("price_per_minute"),
        nullif_div(distance, col("trip_time") / F.lit(3600.0)).alias("avg_speed_mph"),
        (col("shared_request_flag") == "Y").alias("is_shared_request"),
        (col("shared_match_flag") == "Y").alias("is_shared_match"),
        (
            (col("base_passenger_fare") >= 0)
            & (dropoff > pickup)
            & (distance >= 0)
            & (col("driver_pay") >= 0)
        ).alias("is_valid"),
        _source_file_col(raw).alias("source_file"),
    )


def dedup_fact(fact: DataFrame) -> DataFrame:
    """PK-collision dedup: keep one row per trip_id.

    Reference semantics: ``INSERT OR IGNORE`` keeps the first inserted row
    per PK (standardize.py:24,90) — insertion order is itself arbitrary
    (preserve_insertion_order=false), so "which duplicate survives" was
    never deterministic; collisions are near-identical rows by construction
    (trip_id = md5(service, pickup_ts, distance)).  One hash shuffle on the
    uniform md5 key.
    """
    return fact.dropDuplicates(["trip_id"])


def build_fact_trips(
    yellow: DataFrame | None = None,
    green: DataFrame | None = None,
    hvfhv: DataFrame | None = None,
) -> DataFrame:
    """Standardize every provided service and unify (J9).  Yellow/green are
    deduped on trip_id; HVFHV is appended as-is (reference semantics)."""
    parts: list[DataFrame] = []
    if yellow is not None:
        parts.append(dedup_fact(standardize_yellow(yellow)))
    if green is not None:
        parts.append(dedup_fact(standardize_green(green)))
    if hvfhv is not None:
        parts.append(standardize_hvfhv(hvfhv))
    if not parts:
        raise ValueError("at least one raw service DataFrame is required")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

