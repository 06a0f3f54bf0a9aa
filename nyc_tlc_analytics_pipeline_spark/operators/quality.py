"""Data-quality checks over the raw service tables.

Re-expression of the reference's four aggregate checks per table
(reference: src/transformations/quality_checks.py:17-186) as global
aggregations (SURVEY §2.4 A11).  Each check is defined once, as its
aggregate columns plus a finisher that turns their values into a
``CheckResult``.  ``run_all_checks`` puts all four checks' columns into
ONE ``df.agg(...)``, so a service costs one Spark job, one scan and no
shuffle beyond the final partial-merge; each ``check_*`` function runs
the same definition on its own.

The metrics sink mirrors ``data_quality_metrics``
(reference: sql/ddl/03_fact_tables.sql:70-95) as an append-only table.
Re-running the checks appends a new set of rows; the pipeline appends
all services' rows in one write per quality stage, so a stage that
fails part-way and is retried appends each row exactly once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit, when

from ..core.config import QualityThresholds
from ..functions.scalar import to_epoch_seconds
from ..sources.sinks import literal_frame

# per-service column mapping (quality_checks.py:22-26,66-77,106-121,157)
_SERVICE_COLS = {
    "yellow": {
        "fare": "total_amount",
        "pickup": "tpep_pickup_datetime",
        "dropoff": "tpep_dropoff_datetime",
        "distance": "trip_distance",
    },
    "green": {
        "fare": "total_amount",
        "pickup": "lpep_pickup_datetime",
        "dropoff": "lpep_dropoff_datetime",
        "distance": "trip_distance",
    },
    "hvfhv": {
        "fare": "base_passenger_fare",
        "pickup": "pickup_datetime",
        "dropoff": "dropoff_datetime",
        "distance": "trip_miles",
    },
}


@dataclass
class CheckResult:
    check_type: str
    service_type: str
    total_rows: int
    passed_rows: int
    failed_rows: int
    failure_rate: float
    details: dict


def _count_if(cond: Column) -> Column:
    return F.sum(when(cond, 1).otherwise(0))


def _fares(cols: dict, q: QualityThresholds):
    """Negative + excessive fares (quality_checks.py:17-59)."""
    fare = col(cols["fare"])
    aggs = {
        "total": F.count(lit(1)),
        "negative": _count_if(fare < 0),
        "excessive": _count_if(fare > q.max_fare),
        "min_fare": F.min(fare),
        "max_fare": F.max(fare),
        "avg_fare": F.avg(fare),
    }

    def finish(r: dict):
        failed = (r["negative"] or 0) + (r["excessive"] or 0)
        return r["total"], failed, {
            "negative_fares": r["negative"],
            "excessive_fares": r["excessive"],
            "min_fare": r["min_fare"],
            "max_fare": r["max_fare"],
            "avg_fare": r["avg_fare"],
        }

    return aggs, finish


def _timestamps(cols: dict, q: QualityThresholds):
    """Dropoff-before-pickup + NULL timestamps (quality_checks.py:61-100)."""
    pickup, dropoff = col(cols["pickup"]), col(cols["dropoff"])
    aggs = {
        "total": F.count(lit(1)),
        "invalid_order": _count_if(dropoff < pickup),
        "nulls": _count_if(pickup.isNull() | dropoff.isNull()),
    }

    def finish(r: dict):
        failed = (r["invalid_order"] or 0) + (r["nulls"] or 0)
        return r["total"], failed, {
            "invalid_order": r["invalid_order"],
            "null_timestamps": r["nulls"],
        }

    return aggs, finish


def _speed(cols: dict, q: QualityThresholds):
    """Speed > max_speed_mph over positive-distance rows
    (quality_checks.py:102-151).  The reference's WHERE distance > 0
    scope is a condition inside each aggregate, so the check shares the
    other checks' scan."""
    pickup, dropoff, distance = col(cols["pickup"]), col(cols["dropoff"]), col(cols["distance"])
    seconds = to_epoch_seconds(dropoff) - to_epoch_seconds(pickup)
    speeding = (
        (distance > 0) & (seconds > 0) & (distance / (seconds / 3600.0) > q.max_speed_mph)
    )
    aggs = {"total": F.count(when(distance > 0, 1)), "excessive": _count_if(speeding)}

    def finish(r: dict):
        failed = r["excessive"] or 0
        return r["total"], failed, {"excessive_speed": failed, "max_speed_mph": q.max_speed_mph}

    return aggs, finish


def _distance(cols: dict, q: QualityThresholds):
    """Negative + excessive distances (quality_checks.py:153-186)."""
    distance = col(cols["distance"])
    aggs = {
        "total": F.count(lit(1)),
        "negative": _count_if(distance < 0),
        "excessive": _count_if(distance > q.max_distance_miles),
        "avg_distance": F.avg(distance),
    }

    def finish(r: dict):
        failed = (r["negative"] or 0) + (r["excessive"] or 0)
        return r["total"], failed, {
            "negative_distance": r["negative"],
            "excessive_distance": r["excessive"],
            "avg_distance": r["avg_distance"],
        }

    return aggs, finish


# the reference's four checks, in its order (quality_checks.py:188-199).
# Each maps (service columns, thresholds) to its named aggregate columns
# and a finisher from their values to (rows in scope, failed rows, details).
CHECKS = {
    "fare_validation": _fares,
    "timestamp_validation": _timestamps,
    "speed_validation": _speed,
    "distance_validation": _distance,
}


def _run(
    raw: DataFrame, service: str, q: QualityThresholds, names: list[str]
) -> list[CheckResult]:
    """The named checks over ``raw`` in one aggregate and one job."""
    cols = _SERVICE_COLS[service]
    defs = {name: CHECKS[name](cols, q) for name in names}
    row = raw.agg(
        *[c.alias(f"{name}__{k}") for name, (aggs, _) in defs.items() for k, c in aggs.items()]
    ).collect()[0].asDict()
    out = []
    for name, (aggs, finish) in defs.items():
        total, failed, details = finish({k: row[f"{name}__{k}"] for k in aggs})
        out.append(
            CheckResult(
                name,
                service,
                total,
                total - failed,
                failed,
                failed / total if total else 0.0,
                details,
            )
        )
    return out


def check_fares(raw: DataFrame, service: str, q: QualityThresholds) -> CheckResult:
    return _run(raw, service, q, ["fare_validation"])[0]


def check_timestamps(raw: DataFrame, service: str, q: QualityThresholds) -> CheckResult:
    return _run(raw, service, q, ["timestamp_validation"])[0]


def check_realistic_speed(raw: DataFrame, service: str, q: QualityThresholds) -> CheckResult:
    return _run(raw, service, q, ["speed_validation"])[0]


def check_distance(raw: DataFrame, service: str, q: QualityThresholds) -> CheckResult:
    return _run(raw, service, q, ["distance_validation"])[0]


def run_all_checks(
    raw: DataFrame, service: str, q: QualityThresholds | None = None
) -> list[CheckResult]:
    """The reference's four checks in order, in one pass over ``raw``."""
    return _run(raw, service, q or QualityThresholds(), list(CHECKS))


def metrics_df(spark: SparkSession, results: list[CheckResult]) -> DataFrame:
    """CheckResults → data_quality_metrics rows (S11 parameterized insert;
    quality_checks.py:212-231)."""
    rows = [
        (
            f"raw_{r.service_type}_{r.check_type}_{r.total_rows}",
            r.service_type,
            r.check_type,
            r.total_rows,
            r.passed_rows,
            r.failed_rows,
            float(r.failure_rate),
            str(r.details),
        )
        for r in results
    ]
    return literal_frame(
        spark,
        rows,
        "check_id string, service_type string, check_type string, total_rows long, "
        "passed_rows long, failed_rows long, failure_rate double, details string",
    ).withColumn("check_timestamp", F.current_timestamp())


def overall_quality_pct(results: list[CheckResult]) -> float:
    """Σpassed / Σtotal across checks (quality_checks.py:233-238)."""
    total = sum(r.total_rows for r in results)
    passed = sum(r.passed_rows for r in results)
    return passed / total * 100.0 if total else 0.0
