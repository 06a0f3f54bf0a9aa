"""Pipeline configuration.

Mirrors the reference's ``config/pipeline_config.yaml`` surface (quality
thresholds at pipeline_config.yaml:48-53, download concurrency at :41-46)
as plain dataclasses — no YAML dependency.  ``IngestionConfig`` is the
downloader's own argument (``sources.downloader``).
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
    quality: QualityThresholds = field(default_factory=QualityThresholds)
