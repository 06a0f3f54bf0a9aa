"""The benchmark's workloads.

Each workload drives the package only through its public surface
(``TlcPipeline``, ``plans.analytics.ANALYTICS``, ``plans.catalog.QUERIES``,
``core.pins``) and counts one operation per pipeline stage call or per
query.  An exception or a failed correctness check is a failed
operation.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os
import shutil
import statistics
import traceback
from contextlib import contextmanager

import gen

# stage name in meta/e2e_state.json -> TlcPipeline method run_e2e calls
STAGES = {
    "init_dims": "init_dims",
    "ingest": "load_landing_dir",
    "quality": "run_quality_checks",
    "build_fact": "build_fact",
    "build_aggregates": "build_aggregates",
}
# one of the 17 headline queries: q91 spends the most executor CPU on
# string hashing and runs 17 jobs with a pinned frame.  The whole
# headline set costs ~46 s cold + ~23 s per warm pass on a 4-core host,
# more than one run can spend.
CATALOG_QUERIES = ("q91_bloom_prefilter",)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """Operation accounting, job labels and spans shared by all workloads."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    @contextmanager
    def op(self, label: str, name: str, raise_errors: bool = False):
        """One operation: labels its Spark jobs ``label`` and records a span."""
        self.attempted += 1
        self.spark.sparkContext.setJobDescription(label)
        try:
            with self.tracer.span(name, label=label) as rec:
                yield rec
        except Exception:
            self.fail(f"{label}: {traceback.format_exc(limit=3)}")
            if raise_errors:
                raise
        finally:
            self.spark.sparkContext.setJobDescription(None)


def canonical(v):
    """Order-insensitive, float-rounded cell form shared by both engines."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"B:{v}"
    if isinstance(v, int):
        return f"I:{v}"
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        return "F:nan" if v != v else f"F:{round(v + 0.0, 6)!r}"
    if isinstance(v, datetime.datetime):
        return f"T:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, datetime.date):
        return f"T:{datetime.datetime(v.year, v.month, v.day).isoformat()}"
    if isinstance(v, (list, tuple)):
        return "L:[" + ",".join(canonical(x) for x in v) + "]"
    if hasattr(v, "asDict") or isinstance(v, dict):
        d = v.asDict() if hasattr(v, "asDict") else v
        return "M:{" + ",".join(f"{k}={canonical(x)}" for k, x in sorted(d.items())) + "}"
    return f"S:{v}"


def frame_key(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], sorted(
        tuple(canonical(row[i]) for i in order) for row in rows
    )


def digest(columns: list[str], rows) -> str:
    return hashlib.sha1(repr(frame_key(columns, rows)).encode()).hexdigest()


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


class TlcEtl:
    """``TlcPipeline.run_e2e(resume=False)`` into a fresh warehouse per pass."""

    name = "tlc-etl"
    nominal_pass_s = 24.0

    def __init__(self, run: Run, work: str, seed: int) -> None:
        self.run = run
        self.work = work
        self.seed = seed
        self.per_pass: list[dict] = []
        self.pipe = None
        self.analytics: dict = {}
        self.spark_counts: dict[str, int] = {}

    def setup(self) -> dict:
        self.landing = os.path.join(self.work, "landing")
        self.props = gen.write_tlc_landing(self.landing, self.seed)
        return self.props

    def _pipeline(self, idx: int):
        from nyc_tlc_analytics_pipeline_spark.core.config import PipelineConfig
        from nyc_tlc_analytics_pipeline_spark.pipeline import TlcPipeline

        wh = os.path.join(self.work, f"warehouse{idx}")
        pipe = TlcPipeline(self.run.spark, PipelineConfig(warehouse_dir=wh, landing_dir=self.landing))
        stats = {"windows": [], "stage_s": {}}
        for stage, method in STAGES.items():
            bound = getattr(pipe, method)

            def wrapped(*a, _bound=bound, _stage=stage, **kw):
                with self.run.op(f"p{idx}:{_stage}", _stage, raise_errors=True) as rec:
                    out = _bound(*a, **kw)
                stats["windows"].append((rec["start"], rec["end"]))
                stats["stage_s"][_stage] = stats["stage_s"].get(_stage, 0.0) + rec["end"] - rec["start"]
                return out

            setattr(pipe, method, wrapped)  # instance attribute shadows the method
        return pipe, stats

    def run_pass(self, idx: int) -> None:
        from nyc_tlc_analytics_pipeline_spark.pipeline import StageFailed

        pipe, stats = self._pipeline(idx)
        try:
            pipe.run_e2e(self.landing, zones_csv=os.path.join(self.landing, "taxi_zones.csv"), resume=False)
        except StageFailed as e:
            self.run.errors.append(f"p{idx}: {e}")
        state = pipe._load_state()["stages"]
        stats["retries"] = sum(s.get("attempts", 1) - 1 for s in state.values())
        self.per_pass.append(stats)
        if self.pipe is not None:  # keep only the newest warehouse on disk
            shutil.rmtree(self.pipe.config.warehouse_dir, ignore_errors=True)
        self.pipe = pipe

    def pass_record(self, idx: int) -> dict:
        return {"stage_s": self.per_pass[idx]["stage_s"], "retries": self.per_pass[idx]["retries"]}

    def finish(self, trace: bool) -> None:
        """Before the session stops: count fact rows per service and, in a
        traced run, read the newest warehouse once with every ANALYTICS
        builder (outside the timed passes)."""
        from nyc_tlc_analytics_pipeline_spark.plans.analytics import ANALYTICS

        fact = self.run.spark.read.parquet(self.pipe.fact_path)
        self.spark_counts = {
            r["service_type"]: r["count"] for r in fact.groupBy("service_type").count().collect()
        }
        files = _tree_bytes(self.pipe.fact_path)[1]
        rows = sum(self.spark_counts.values())
        self.props.update(fact_rows=rows, fact_files=files, rows_per_fact_file=rows / max(files, 1))
        for name in ANALYTICS if trace else ():
            with self.run.op(f"analytics:{name}", name):
                with self.run.tracer.span("build") as b:
                    df = self.pipe.run_analytics(name)
                with self.run.tracer.span("collect") as c:
                    rows = df.collect()
                self.analytics[name] = {
                    "build_s": b["end"] - b["start"],
                    "collect_s": c["end"] - c["start"],
                    "rows": len(rows),
                }

    def check(self) -> None:
        """fact_trips rows per service == DuckDB count over the landing
        files: distinct (pickup, distance) for yellow/green, the md5
        trip_id key; every row for hvfhv."""
        import duckdb

        con = duckdb.connect()
        want = {}
        for service, (prefix, _) in gen.SERVICES.items():
            files = os.path.join(self.landing, f"{prefix}_*.parquet")
            if service == "hvfhv":
                sql = f"SELECT count(*) FROM read_parquet('{files}') WHERE pickup_datetime IS NOT NULL AND dropoff_datetime IS NOT NULL"
            else:
                p = "tpep" if service == "yellow" else "lpep"
                sql = (
                    f"SELECT count(DISTINCT ({p}_pickup_datetime, trip_distance)) FROM read_parquet('{files}') "
                    f"WHERE {p}_pickup_datetime IS NOT NULL AND {p}_dropoff_datetime IS NOT NULL"
                )
            want[service] = con.execute(sql).fetchone()[0]
        con.close()
        for service, n in want.items():
            if self.spark_counts.get(service) != n:
                self.run.fail(f"fact_trips {service}: spark={self.spark_counts.get(service)} duckdb={n}")
        for name, a in self.analytics.items():
            if not a["rows"]:
                self.run.fail(f"analytics {name}: empty")

    def layer_metrics(self, timed: list[int], events) -> dict[str, float]:
        m = {}
        for stage in STAGES:
            m[f"pipeline.{stage}_s"] = _median(
                [self.per_pass[i]["stage_s"].get(stage, 0.0) for i in timed]
            )
        m["pipeline.retries"] = _median([self.per_pass[i]["retries"] for i in timed])
        wh = self.pipe.config.warehouse_dir
        landing = self.props["landing_bytes"]
        sizes = {k: _tree_bytes(os.path.join(wh, k)) for k in ("bronze", "silver", "gold", "meta")}
        m["sources.landing_bytes"] = landing
        m["sources.bronze_bytes"] = sizes["bronze"][0]
        m["sources.silver_bytes"] = sizes["silver"][0]
        m["sources.gold_bytes"] = sizes["gold"][0]
        m["sources.fact_files"] = _tree_bytes(self.pipe.fact_path)[1]
        m["sources.write_amplification"] = sum(s[0] for s in sizes.values()) / landing
        if self.analytics:
            a = self.analytics
            m["analytics.build_s"] = sum(x["build_s"] for x in a.values())
            m["analytics.collect_s"] = sum(x["collect_s"] for x in a.values())
            for name, x in a.items():
                m[f"analytics.{name}_s"] = x["build_s"] + x["collect_s"]
        if events is not None:
            per_pass = [
                events.summary(f"p{i}:", self.per_pass[i]["windows"]) for i in timed
            ]
            for k in per_pass[0]:
                m[k] = _median([p[k] for p in per_pass])
        return m


class CatalogHeadline:
    """Headline ``QuerySpec``s over a seeded sf0.1-shaped ``documents``
    table, each collected, with ``release_pins()`` after every query."""

    name = "catalog-headline"
    nominal_pass_s = 4.0

    def __init__(self, run: Run, work: str, seed: int) -> None:
        from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES

        self.run = run
        self.work = work
        self.seed = seed
        self.specs = [QUERIES[q] for q in CATALOG_QUERIES]
        if not all(s.headline for s in self.specs):
            raise RuntimeError("catalog-headline names a query outside the headline set")
        self.per_pass: list[dict] = []
        self.results: list[dict] = []

    def setup(self) -> dict:
        self.sf_dir = os.path.join(self.work, "sf")
        self.props = gen.write_documents(self.sf_dir, self.seed)
        return self.props

    def run_pass(self, idx: int) -> None:
        from nyc_tlc_analytics_pipeline_spark.core.pins import pinned_count, release_pins

        stats = {"build_s": {}, "collect_s": {}, "windows": [], "pinned": 0}
        results = {}
        for spec in self.specs:
            with self.run.op(f"p{idx}:{spec.name}", spec.name):
                try:
                    with self.run.tracer.span("build") as b:
                        df = spec.build(self.run.spark, self.sf_dir)
                    with self.run.tracer.span("collect") as c:
                        rows = df.collect()
                    results[spec.name] = (list(df.columns), rows)
                    stats["build_s"][spec.name] = b["end"] - b["start"]
                    stats["collect_s"][spec.name] = c["end"] - c["start"]
                    stats["windows"].append((c["start"], c["end"]))
                finally:
                    stats["pinned"] += pinned_count()
                    release_pins()
        self.per_pass.append(stats)
        self.results.append(results)

    def pass_record(self, idx: int) -> dict:
        p = self.per_pass[idx]
        return {
            "build_s": sum(p["build_s"].values()),
            "collect_s": sum(p["collect_s"].values()),
            "pinned": p["pinned"],
        }

    def finish(self, trace: bool) -> None:
        pass

    def check(self) -> None:
        """Each query of the last pass against its DuckDB oracle, and
        every pass's result digest against the last pass's."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.sf_dir}/documents.parquet')")
        last = self.results[-1]
        for spec in self.specs:
            if spec.name not in last:
                continue  # already counted as a failed query
            cols, rows = last[spec.name]
            try:
                cur = con.execute(spec.oracle)
                want = frame_key([d[0] for d in cur.description], cur.fetchall())
            except Exception:
                self.run.fail(f"oracle {spec.name}: {traceback.format_exc(limit=2)}")
                continue
            got = frame_key(cols, rows)
            if got != want:
                self.run.fail(f"{spec.name}: differs from its oracle ({len(got[1])} vs {len(want[1])} rows)")
            for i, res in enumerate(self.results[:-1]):
                if spec.name in res and digest(*res[spec.name]) != digest(cols, rows):
                    self.run.fail(f"{spec.name}: pass {i} result differs from the last pass")
        con.close()

    def layer_metrics(self, timed: list[int], events) -> dict[str, float]:
        per = [self.per_pass[i] for i in timed]
        m = {
            "sources.landing_bytes": self.props["landing_bytes"],
            "catalog.build_s": _median([sum(p["build_s"].values()) for p in per]),
            "catalog.collect_s": _median([sum(p["collect_s"].values()) for p in per]),
            "pins.pinned": _median([p["pinned"] for p in per]),
        }
        for spec in self.specs:
            m[f"catalog.{spec.name}_s"] = _median(
                [p["build_s"].get(spec.name, 0.0) + p["collect_s"].get(spec.name, 0.0) for p in per]
            )
        if events is not None:
            per_pass = [events.summary(f"p{i}:", self.per_pass[i]["windows"]) for i in timed]
            for k in per_pass[0]:
                m[k] = _median([p[k] for p in per_pass])
            for spec in self.specs:
                m[f"catalog.{spec.name}.jobs"] = _median(
                    [len(events.job_ids(f"p{i}:{spec.name}")) for i in timed]
                )
        return m


WORKLOADS = {w.name: w for w in (TlcEtl, CatalogHeadline)}
