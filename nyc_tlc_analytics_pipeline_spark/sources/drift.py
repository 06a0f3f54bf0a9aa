"""Schema-drift detection and alignment.

The reference auto-evolves raw tables on load: new parquet columns →
``ALTER TABLE ADD COLUMN``, removed columns → ignored, type changes →
hard failure (reference: src/database/schema_drift.py:75-170).  Spark
cannot ALTER a parquet dataset in place, so the bronze schema is modeled
as the *superset* and each incoming file is aligned by projection
(SURVEY §7.3 item 5); the same report the reference logs is produced as
data."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# Width/precision coercions the loader performs silently — mirrors the
# reference's parquet→engine coercion map (schema_drift.py:16-28; e.g. the
# HVFHV BIGINT location ids are cast to INTEGER at fact build,
# standardize.py:191).  (expected, observed) pairs; symmetric entries listed
# explicitly.  timestamp↔bigint covers parquet TIMESTAMP(NANOS) surfaced as
# long by spark.sql.legacy.parquet.nanosAsLong.
SAFE_COERCIONS: frozenset[tuple[str, str]] = frozenset(
    {
        ("int", "bigint"),
        ("bigint", "int"),
        ("int", "double"),
        ("double", "int"),
        ("bigint", "double"),
        ("double", "bigint"),
        ("float", "double"),
        ("double", "float"),
        ("timestamp", "bigint"),
        ("timestamp", "timestamp_ntz"),
        ("timestamp_ntz", "timestamp"),
    }
)


@dataclass(frozen=True)
class DriftReport:
    new_columns: tuple[tuple[str, str], ...] = field(default_factory=tuple)
    removed_columns: tuple[str, ...] = field(default_factory=tuple)
    type_changes: tuple[tuple[str, str, str], ...] = field(default_factory=tuple)

    @property
    def has_drift(self) -> bool:
        return bool(self.new_columns or self.removed_columns or self.type_changes)

    @property
    def breaking_changes(self) -> tuple[tuple[str, str, str], ...]:
        return tuple(
            (n, exp, obs)
            for n, exp, obs in self.type_changes
            if (exp, obs) not in SAFE_COERCIONS
        )

    @property
    def is_breaking(self) -> bool:
        return bool(self.breaking_changes)


def detect_drift(observed: StructType, expected: StructType) -> DriftReport:
    """Compare an incoming file schema against the registry schema
    (reference: schema_drift.py:75-109)."""
    obs = {f.name: f.dataType.simpleString() for f in observed.fields}
    exp = {f.name: f.dataType.simpleString() for f in expected.fields}
    new = tuple((n, t) for n, t in obs.items() if n not in exp)
    removed = tuple(n for n in exp if n not in obs)
    changed = tuple(
        (n, exp[n], obs[n]) for n in obs.keys() & exp.keys() if obs[n] != exp[n]
    )
    return DriftReport(new, removed, changed)


def align_to_schema(df: DataFrame, expected: StructType, strict_types: bool = True) -> DataFrame:
    """Project the incoming frame onto the expected schema: missing
    columns become typed NULLs, extra columns are dropped, matching
    columns are cast.  With ``strict_types`` a type change raises —
    the reference's fail-on-type-change contract (schema_drift.py:150-170).
    """
    if strict_types:
        report = detect_drift(df.schema, expected)
        if report.is_breaking:
            raise ValueError(
                f"breaking schema drift (type changes): {report.breaking_changes}"
            )
    from pyspark.sql.types import LongType, TimestampType

    obs_types = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in expected.fields:
        if f.name in obs_types:
            observed_t = obs_types[f.name]
            if isinstance(f.dataType, TimestampType) and isinstance(observed_t, LongType):
                # parquet TIMESTAMP(NANOS) surfaced as long by the
                # nanosAsLong conf — a bare cast would treat the value as
                # SECONDS and saturate to +294247-… (every row identical);
                # convert nanos → micros explicitly
                cols.append(
                    F.timestamp_micros(F.expr(f"{f.name} div 1000")).alias(f.name)
                )
            else:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
