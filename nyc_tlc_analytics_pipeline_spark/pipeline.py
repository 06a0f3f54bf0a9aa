"""End-to-end pipeline orchestration: the reference's four Prefect stages
(init → ingest → quality → transform; reference:
src/orchestration/flows.py:228-294) as driver-side stages over a
parquet warehouse, run as the dependency graph they form:

    init_dims  ∥  ingest → (quality  ∥  build_fact → build_aggregates)

The dims feed no later stage, and quality and build_fact read only
bronze, so only these edges order the stages (``TlcPipeline.run_e2e``).

Warehouse layout (medallion, replacing the single DB file):

    <warehouse>/bronze/raw_<service>/
    <warehouse>/silver/{dim_*,fact_trips}/
    <warehouse>/gold/agg_*/
    <warehouse>/meta/{ingestion_log,data_quality_metrics}/
    <warehouse>/meta/e2e_state.json

Every table is a manifest table (``sources.manifest``): a ``_log/`` of
commits over ``data/<uuid>/`` parquet directories, so each has a
recorded schema and row count, an atomic replace and a version, and a
read infers no schema.  Bronze and meta tables are appended to; a bronze
append is tagged with its source file, so re-ingesting a month is a
no-op even under concurrent loaders.  The dims, ``fact_trips`` and the
gold tables are rebuilt whole (``TlcPipeline.rebuild``), and the
superseded data is reclaimed at once.  ``fact_trips`` is laid out in
``service_type=*/pickup_date=*/`` directories, which serve the same
access paths the reference indexed (SURVEY §4).

Each stage runs one Spark job per table it writes: row counts come from
the write itself (the manifest commit records them), and the quality
checks of a service are one aggregate.  Writes that do not depend on
each other (the dims, the landing files, the three services' quality
aggregates, the gold tables) run side by side from a small thread pool."""

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
# the tables TlcPipeline.rebuild writes, as tables() returns them
DIMS = ("dim_zones", "dim_date", "dim_time", "dim_service", "dim_hvfhs_company")
GOLD = ("agg_pricing_by_zone_hour", "agg_hvfhv_take_rates", "agg_market_share", "agg_daily_summary")
# fact_trips' directory layout: the access paths of the reference's
# idx_trips_service_date B-tree (03_fact_tables.sql:61-65), pruned at planning
FACT_PARTITIONS = ("service_type", "pickup_date")

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
    ``calls`` order.  Every call runs to its end; then the first failure
    in ``calls`` order is re-raised.  Each call runs with
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

    def _rebuilt(self, name: str) -> ManifestTable:
        """A table ``rebuild`` writes: a gold table, or a silver one (a dim
        or fact_trips)."""
        return ManifestTable(self.spark, self.gold(name) if name in GOLD else self.dim(name))

    def rebuild(self, name: str, df: DataFrame) -> int:
        """Replace table ``name`` (fact_trips in ``FACT_PARTITIONS``
        directories) with ``df`` and delete the data it replaced: these
        tables are derived, so no history is kept.  Returns the rows
        written."""
        table = self._rebuilt(name)
        version = table.overwrite(df, partition_by=FACT_PARTITIONS if name == "fact_trips" else ())
        table.expire(version)
        return table.entry(version)["rows"]

    # -- stage 1: init (dims) ---------------------------------------------
    def init_dims(self, zones_csv: str | None = None) -> dict[str, int]:
        """Build + materialize the dimensions (reference stage 1: DDL init;
        dims are fully derivable so overwrite-rebuild replaces upsert)."""
        raw_zones = read_zones_csv(self.spark, zones_csv) if zones_csv else None
        dims = dimensions.build_all_dims(self.spark, raw_zones=raw_zones)
        return side_by_side(
            self.spark,
            {name: lambda df=df, name=name: self.rebuild(name, df) for name, df in dims.items()},
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
        filename, so a file already loaded is not written again (SURVEY
        §3.3).  Returns the file's ingestion_log entry, from the bronze
        commit that carries its tag: the rows it committed and the file
        size."""
        fname = os.path.basename(path)
        tagged = (
            read_service_parquet(self.spark, path, service)
            .withColumn("source_file", F.lit(fname))
            .withColumn("ingestion_timestamp", F.current_timestamp())
        )
        bronze = self._bronze_manifest(service)
        version = bronze.append(tagged, tag=fname, file_size_bytes=os.path.getsize(path))
        commit = bronze.entry(version or bronze.snapshot()["tags"][fname])
        return {
            "service_type": service,
            "source_file": fname,
            "rows_loaded": commit.get("rows", 0),
            "file_size_bytes": commit.get("file_size_bytes", 0),
        }

    def _log_loads(self, loaded: list[dict]) -> list[dict]:
        """Append one ingestion_log row per entry of ``loaded``, in order:
        ``success`` for a file that no earlier append named (a file whose
        bronze commit outlived a failed log append is logged now, with
        its committed rows), ``skipped_already_loaded`` with 0 rows
        otherwise.  Each append records the files it names, and commits
        only over the log version whose names it checked, so two loaders
        never both log a file as loaded."""
        log = self._meta_table("ingestion_log")
        while True:
            history = log.history()
            version = history[-1]["version"] if history else 0
            named = {f for e in history for f in e.get("source_files", ())}
            entries = [
                {**e, "rows_loaded": 0, "status": "skipped_already_loaded"}
                if e["source_file"] in named
                else {**e, "status": "success"}
                for e in loaded
            ]
            rows = sinks.ingestion_log_rows(self.spark, entries)
            files = [e["source_file"] for e in entries]
            if log.append(rows, expect_version=version, source_files=files) is not None:
                return entries

    def load_landing_dir(self, landing_dir: str, loads: list[dict] | None = None) -> list[dict]:
        """Glob the landing dir and load every recognized service file
        (reference: DataLoader.load_all_downloaded_files), side by side,
        then log them in one ingestion_log append.  Given the entries of
        earlier loads, load only the files they lack and append to them,
        so a retried or resumed ingest loads each file once."""
        loads = [] if loads is None else loads
        todo = unloaded_files(landing_dir, loads)
        if todo:
            loaded = side_by_side(
                self.spark,
                {path: lambda path=path, service=service: self.load_file(path, service) for path, service in todo},
            )
            loads.extend(self._log_loads(list(loaded.values())))
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
        return self.rebuild("fact_trips", fact)

    def build_aggregates(self) -> dict[str, int]:
        aggs = aggregations.build_all(self._rebuilt("fact_trips").read())
        return side_by_side(
            self.spark,
            {name: lambda df=df, name=name: self.rebuild(name, df) for name, df in aggs.items()},
        )

    # -- analytics ---------------------------------------------------------
    def tables(self) -> dict[str, DataFrame]:
        """Every rebuilt table that has been written, read at its latest
        version."""
        t = {name: self._rebuilt(name) for name in ("fact_trips", *DIMS, *GOLD)}
        return {name: mt.read() for name, mt in t.items() if mt.latest_version()}

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
        ``retries`` times (reference default, flows.py:34) and its
        completion is journaled to ``meta/e2e_state.json``.

        The stages run as their dependency graph, side by side where no
        edge orders them: ``init_dims ∥ ingest → (quality ∥ build_fact →
        build_aggregates)``.  A stage starts only once its inputs have
        succeeded.  A stage that fails beyond its retries stops only the
        stages that depend on it; the others run to the end and are
        journaled, and then ``StageFailed`` is raised for the first
        failed stage in ``E2E_STAGES`` order.  A re-run after a failure
        skips the completed stages (their idempotent writes are not
        repeated, so e.g. ingestion_log gets no duplicate entries), so it
        runs only the failed stages and those that depend on them.  A
        journaled ingest stage does NOT freeze the file set: resume
        re-scans the landing dir and loads, through the same retry loop,
        any files that arrived after the failed run.  ``resume=False``
        discards prior state and runs everything."""
        stages = journal.Journal(self._state_path, E2E_STAGES, resume)

        def ingest() -> list[dict]:
            # the ingest result lists every file loaded so far; a resumed
            # run loads only the files missing from it (those landed after
            # the failed run), so no journaled file gets a second
            # ingestion_log row, and a retry skips the files its failed
            # attempt logged
            loads: list[dict] = list(stages.result("ingest") or [])
            if unloaded_files(landing_dir, loads):
                stages.reopen("ingest")
            return stages.run("ingest", lambda: self.load_landing_dir(landing_dir, loads), retries)

        def quality_pct() -> dict[str, float]:
            return {
                s: round(quality.overall_quality_pct(rs), 2)
                for s, rs in self.run_quality_checks().items()
            }

        def transform() -> tuple[int, dict[str, int]]:
            fact_rows = stages.run("build_fact", self.build_fact, retries)
            return fact_rows, stages.run("build_aggregates", self.build_aggregates, retries)

        def from_bronze() -> tuple[list[dict], dict]:
            loads = ingest()
            return loads, side_by_side(
                self.spark,
                {"quality": lambda: stages.run("quality", quality_pct, retries), "transform": transform},
            )

        out = side_by_side(
            self.spark,
            {
                "init_dims": lambda: stages.run("init_dims", lambda: self.init_dims(zones_csv), retries),
                "ingest": from_bronze,
            },
        )
        loads, after_ingest = out["ingest"]
        fact_rows, aggs = after_ingest["transform"]
        return {
            "dims": out["init_dims"],
            "files_loaded": len([r for r in loads if r["status"] == "success"]),
            "files_skipped": len([r for r in loads if r["status"] != "success"]),
            "quality_pct": after_ingest["quality"],
            "fact_rows": fact_rows,
            "aggregates": aggs,
        }
