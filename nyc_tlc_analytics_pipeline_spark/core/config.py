"""Pipeline configuration.

Mirrors the reference's ``config/pipeline_config.yaml`` surface
(quality thresholds at pipeline_config.yaml:48-53, download concurrency at
:41-46, engine memory at :32-33) as plain dataclasses — no YAML dependency
required, but ``PipelineConfig.from_dict`` accepts a parsed mapping.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class QualityThresholds:
    """Data-quality bounds (reference: config/pipeline_config.yaml:48-53)."""

    max_fare: float = 1000.0
    max_distance_miles: float = 500.0
    max_speed_mph: float = 100.0
    min_duration_seconds: float = 60.0
    max_duration_hours: float = 24.0


@dataclass(frozen=True)
class IngestionConfig:
    """HTTP source settings (reference: config/pipeline_config.yaml:41-46)."""

    base_url: str = "https://d37ci6vzurychx.cloudfront.net/trip-data"
    max_concurrent_downloads: int = 10
    max_retries: int = 3
    retry_backoff_base_seconds: float = 2.0
    timeout_seconds: float = 300.0


@dataclass(frozen=True)
class PipelineConfig:
    warehouse_dir: str = "data/warehouse"
    landing_dir: str = "data/raw"
    start_month: str = "2021-01"
    end_month: str = "2025-01"
    services: tuple[str, ...] = ("yellow", "green", "hvfhv")
    quality: QualityThresholds = field(default_factory=QualityThresholds)
    ingestion: IngestionConfig = field(default_factory=IngestionConfig)
    # 100 TB-scale knob: exact percentiles buffer per group; flip to
    # approximate for very large groups (breaks oracle equality, so the
    # conformance suite always runs exact).  See SURVEY §7.3.
    approx_percentiles: bool = False

    @classmethod
    def from_dict(cls, d: dict) -> "PipelineConfig":
        q = d.get("quality", {})
        i = d.get("ingestion", {})
        return cls(
            warehouse_dir=d.get("warehouse_dir", cls.warehouse_dir),
            landing_dir=d.get("landing_dir", cls.landing_dir),
            start_month=d.get("start_month", cls.start_month),
            end_month=d.get("end_month", cls.end_month),
            services=tuple(d.get("services", cls.services)),
            quality=QualityThresholds(**q),
            ingestion=IngestionConfig(**i),
            approx_percentiles=bool(d.get("approx_percentiles", False)),
        )
