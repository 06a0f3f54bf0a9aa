"""End-to-end pipeline orchestration: the reference's four Prefect stages
(init → ingest → quality → transform; reference:
src/orchestration/flows.py:228-294) as plain driver-side phases over a
parquet warehouse.

Warehouse layout (medallion, replacing the single DB file):

    <warehouse>/bronze/raw_<service>/{_log/,data/<uuid>/}
    <warehouse>/silver/fact_trips/service_type=*/pickup_date=*/...
    <warehouse>/gold/agg_*/
    <warehouse>/meta/{ingestion_log,data_quality_metrics}/{_log/,data/<uuid>/}
    <warehouse>/meta/e2e_state.json

Each stage runs one Spark job per table it writes: row counts come from
the write itself (``sinks.counted``), the quality checks of a service are
one aggregate, and manifest tables are read with the schema their log
recorded.  Writes that do not depend on each other (the dims, the three
services' quality aggregates, the gold tables) run side by side from a
small thread pool.  Bronze and meta tables are manifest tables
(``sources.manifest``): a bronze append is tagged with its source file,
so re-ingesting a month is a no-op even under concurrent loaders.  The
silver partitioning serves the same access paths the reference indexed
(SURVEY §4)."""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import journal
from .core.config import PipelineConfig
from .core.journal import StageFailed  # noqa: F401 — re-exported for callers
from .operators import aggregations, dimensions, quality, standardize
from .sources import sinks
from .sources.manifest import ManifestTable
from .sources.readers import read_service_parquet, read_zones_csv

# landing-file prefix of each service (reference file naming)
LANDING_PREFIXES = (
    ("yellow", "yellow_tripdata"),
    ("green", "green_tripdata"),
    ("hvfhv", "fhvhv_tripdata"),
)
# concurrent Spark actions per stage: each is small, so a few keep the
# cores busy through each other's driver-side gaps
SIDE_BY_SIDE = 4
# run_e2e's stages, in order
E2E_STAGES = ("init_dims", "ingest", "quality", "build_fact", "build_aggregates")

T = TypeVar("T")


def unloaded_files(landing_dir: str, loads: list[dict]) -> list[tuple[str, str]]:
    """(path, service) of every recognized service file that no entry of
    ``loads`` names, in load order."""
    loaded = {r["source_file"] for r in loads}
    return [
        (path, service)
        for service, prefix in LANDING_PREFIXES
        for path in sorted(glob.glob(os.path.join(landing_dir, f"{prefix}*.parquet")))
        if os.path.basename(path) not in loaded
    ]


def side_by_side(spark: SparkSession, calls: dict[str, Callable[[], T]]) -> dict[str, T]:
    """Run independent calls from a thread pool; returns their results in
    ``calls`` order and re-raises the first failure.  Each call runs with
    the caller's job description and job group, copied per call: a
    shared copy would be mutated by every concurrent query."""
    def inherit(fn):
        wrap = inheritable_thread_target(spark)
        return fn if wrap is spark else wrap(fn)  # spark: pinned threads are off

    if not calls:
        return {}
    with ThreadPoolExecutor(max_workers=min(len(calls), SIDE_BY_SIDE)) as pool:
        futures = {k: pool.submit(inherit(fn)) for k, fn in calls.items()}
        return {k: f.result() for k, f in futures.items()}


@dataclass
class TlcPipeline:
    spark: SparkSession
    config: PipelineConfig = field(default_factory=PipelineConfig)

    # -- paths ------------------------------------------------------------
    def bronze(self, service: str) -> str:
        return os.path.join(self.config.warehouse_dir, "bronze", f"raw_{service}")

    @property
    def fact_path(self) -> str:
        return os.path.join(self.config.warehouse_dir, "silver", "fact_trips")

    def gold(self, name: str) -> str:
        return os.path.join(self.config.warehouse_dir, "gold", name)

    def dim(self, name: str) -> str:
        return os.path.join(self.config.warehouse_dir, "silver", name)

    def meta(self, name: str) -> str:
        return os.path.join(self.config.warehouse_dir, "meta", name)

    # -- stage 1: init (dims) ---------------------------------------------
    def init_dims(self, zones_csv: str | None = None) -> dict[str, int]:
        """Build + materialize the dimensions (reference stage 1: DDL init;
        dims are fully derivable so overwrite-rebuild replaces upsert)."""
        raw_zones = read_zones_csv(self.spark, zones_csv) if zones_csv else None
        dims = dimensions.build_all_dims(self.spark, raw_zones=raw_zones)
        return side_by_side(
            self.spark,
            {
                name: lambda df=df, name=name: sinks.overwrite(df, self.dim(name))
                for name, df in dims.items()
            },
        )

    # -- stage 2: ingest ---------------------------------------------------
    def _bronze_manifest(self, service: str) -> ManifestTable:
        return ManifestTable(self.spark, self.bronze(service))

    def _meta_table(self, name: str) -> ManifestTable:
        # a manifest table, not a plain parquet append: concurrent loaders
        # each append an ingestion_log entry, and plain appends stage
        # through one shared ``_temporary`` dir and interleave commits
        return ManifestTable(self.spark, self.meta(name))

    def read_meta(self, name: str) -> DataFrame:
        return self._meta_table(name).read()

    def load_file(self, path: str, service: str) -> dict:
        """Validate → align → bronze append tagged with the source
        filename, so a file already loaded is skipped (SURVEY §3.3)."""
        df, obs = sinks.counted(read_service_parquet(self.spark, path, service))
        fname = os.path.basename(path)
        tagged = df.withColumn("source_file", F.lit(fname)).withColumn(
            "ingestion_timestamp", F.current_timestamp()
        )
        written = self._bronze_manifest(service).append(tagged, tag=fname) is not None
        # after a skip nothing ran over df, and obs.get would wait forever
        rows = obs.get["rows"] if written else 0
        entry = {
            "service_type": service,
            "source_file": fname,
            "rows_loaded": rows,
            "file_size_bytes": os.path.getsize(path) if os.path.exists(path) else 0,
            "status": "success" if written else "skipped_already_loaded",
        }
        self._meta_table("ingestion_log").append(sinks.ingestion_log_rows(self.spark, [entry]))
        return entry

    def load_landing_dir(self, landing_dir: str, loads: list[dict] | None = None) -> list[dict]:
        """Glob the landing dir and load every recognized service file
        (reference: DataLoader.load_all_downloaded_files).  Given the
        entries of earlier loads, load only the files they lack and
        append to them, so a retried or resumed ingest loads each file
        once."""
        loads = [] if loads is None else loads
        for path, service in unloaded_files(landing_dir, loads):
            loads.append(self.load_file(path, service))
        return loads

    def raw(self, service: str) -> DataFrame:
        return self._bronze_manifest(service).read()

    def _loaded_services(self) -> list[str]:
        return [s for s in ("yellow", "green", "hvfhv") if os.path.isdir(self.bronze(s))]

    # -- stage 3: quality --------------------------------------------------
    def run_quality_checks(self) -> dict[str, list[quality.CheckResult]]:
        """One aggregate per service, side by side, then ONE metrics
        append: a failure in any service appends nothing, so a retry
        never duplicates rows."""
        out = side_by_side(
            self.spark,
            {
                s: lambda s=s: quality.run_all_checks(self.raw(s), s, self.config.quality)
                for s in self._loaded_services()
            },
        )
        if out:
            self._meta_table("data_quality_metrics").append(
                quality.metrics_df(self.spark, [r for rs in out.values() for r in rs])
            )
        return out

    # -- stage 4: transform + aggregates ----------------------------------
    def build_fact(self) -> int:
        loaded = {s: self.raw(s) for s in self._loaded_services()}
        fact = standardize.build_fact_trips(
            yellow=loaded.get("yellow"), green=loaded.get("green"), hvfhv=loaded.get("hvfhv")
        )
        return standardize.write_fact_trips(fact, self.fact_path)

    def build_aggregates(self) -> dict[str, int]:
        fact = self.spark.read.parquet(self.fact_path)
        aggs = aggregations.build_all(fact)
        return side_by_side(
            self.spark,
            {
                name: lambda df=df, name=name: sinks.overwrite(df, self.gold(name))
                for name, df in aggs.items()
            },
        )

    # -- analytics ---------------------------------------------------------
    def tables(self) -> dict[str, DataFrame]:
        t = {"fact_trips": self.spark.read.parquet(self.fact_path)}
        for name in ("dim_zones", "dim_date", "dim_time", "dim_service", "dim_hvfhs_company"):
            p = self.dim(name)
            if os.path.isdir(p):
                t[name] = self.spark.read.parquet(p)
        for name in (
            "agg_pricing_by_zone_hour",
            "agg_hvfhv_take_rates",
            "agg_market_share",
            "agg_daily_summary",
        ):
            p = self.gold(name)
            if os.path.isdir(p):
                t[name] = self.spark.read.parquet(p)
        return t

    def run_analytics(self, name: str) -> DataFrame:
        from .plans.analytics import ANALYTICS

        return ANALYTICS[name](self.tables())

    # -- end-to-end --------------------------------------------------------
    @property
    def _state_path(self) -> str:
        return self.meta("e2e_state.json")

    def _load_state(self) -> dict:
        return journal.load(self._state_path)

    def run_e2e(
        self,
        landing_dir: str,
        zones_csv: str | None = None,
        retries: int = 2,
        resume: bool = True,
    ) -> dict:
        """The full pipeline (reference: cli.py run-e2e → full_pipeline_flow)
        with per-stage retry + resume (``core.journal``): each stage retries
        ``retries`` times (reference default, flows.py:34), completion is
        journaled to ``meta/e2e_state.json``, and a re-run after a failure
        skips the already-completed stages (their idempotent writes are not
        repeated, so e.g. ingestion_log gets no duplicate entries).  A
        journaled ingest stage does NOT freeze the file set: resume
        re-scans the landing dir and loads, through the same retry loop,
        any files that arrived after the failed run.  ``resume=False``
        discards prior state and runs everything."""
        stages = journal.Journal(self._state_path, E2E_STAGES, resume)
        dims = stages.run("init_dims", lambda: self.init_dims(zones_csv), retries)
        # the ingest result lists every file loaded so far; a resumed run
        # loads only the files missing from it (those landed after the
        # failed run), so no journaled file gets a second ingestion_log
        # row, and a retry skips the files its failed attempt loaded
        loads: list[dict] = list(stages.result("ingest") or [])
        if unloaded_files(landing_dir, loads):
            stages.reopen("ingest")
        loads = stages.run("ingest", lambda: self.load_landing_dir(landing_dir, loads), retries)
        qc_pct = stages.run(
            "quality",
            lambda: {
                s: round(quality.overall_quality_pct(rs), 2)
                for s, rs in self.run_quality_checks().items()
            },
            retries,
        )
        fact_rows = stages.run("build_fact", self.build_fact, retries)
        aggs = stages.run("build_aggregates", self.build_aggregates, retries)
        return {
            "dims": dims,
            "files_loaded": len([r for r in loads if r["status"] == "success"]),
            "files_skipped": len([r for r in loads if r["status"] != "success"]),
            "quality_pct": qc_pct,
            "fact_rows": fact_rows,
            "aggregates": aggs,
        }
