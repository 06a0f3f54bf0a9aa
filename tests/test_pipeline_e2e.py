"""End-to-end pipeline test: landing dir of service parquet + zones CSV →
init-db → load → quality → transform → aggregates → analytics, through
the TlcPipeline API and the CLI."""

from __future__ import annotations

import json
import os

import pytest

from .conftest import spark_jobs

from nyc_tlc_analytics_pipeline_spark.core.config import PipelineConfig
from nyc_tlc_analytics_pipeline_spark.pipeline import TlcPipeline

from .tlc_synth import synth_green, synth_hvfhv, synth_yellow, synth_zones


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    synth_yellow(400).drop(columns=["source_file"]).to_parquet(
        d / "yellow_tripdata_2025-01.parquet"
    )
    synth_green(150).drop(columns=["source_file"]).to_parquet(
        d / "green_tripdata_2025-01.parquet"
    )
    synth_hvfhv(800).drop(columns=["source_file"]).to_parquet(
        d / "fhvhv_tripdata_2025-01.parquet"
    )
    synth_zones().to_csv(d / "taxi_zones.csv", index=False)
    return d


@pytest.fixture(scope="module")
def pipeline(spark, landing, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    return TlcPipeline(spark, PipelineConfig(warehouse_dir=wh))


def test_run_e2e(pipeline, landing):
    summary = pipeline.run_e2e(str(landing), zones_csv=str(landing / "taxi_zones.csv"))
    assert summary["dims"]["dim_zones"] == 13
    assert summary["dims"]["dim_time"] == 24
    assert summary["dims"]["dim_date"] == 1826
    assert summary["files_loaded"] == 3
    assert summary["fact_rows"] == 400 + 150 + 800
    assert set(summary["aggregates"]) == {
        "agg_pricing_by_zone_hour",
        "agg_hvfhv_take_rates",
        "agg_market_share",
        "agg_daily_summary",
    }
    assert all(95.0 < v <= 100.0 for v in summary["quality_pct"].values())


def test_reload_is_idempotent(pipeline, landing):
    results = pipeline.load_landing_dir(str(landing))
    assert all(r["status"] == "skipped_already_loaded" for r in results)
    assert pipeline.spark.read.parquet(pipeline.fact_path).count() == 1350


def test_fact_partition_layout(pipeline):
    base = pipeline.fact_path
    assert os.path.isdir(os.path.join(base, "service_type=yellow"))
    parts = os.listdir(os.path.join(base, "service_type=yellow"))
    assert any(p.startswith("pickup_date=") for p in parts)


def test_analytics_over_warehouse(pipeline):
    df = pipeline.run_analytics("a01_top_zones_by_revenue")
    rows = df.collect()
    assert 0 < len(rows) <= 20
    assert rows[0].total_revenue >= rows[-1].total_revenue


def test_ingestion_log_written(pipeline):
    log = pipeline.read_meta("ingestion_log")
    # 3 loads + 3 skipped re-loads
    assert log.count() == 6
    assert set(r.status for r in log.collect()) == {"success", "skipped_already_loaded"}


def test_quality_metrics_written(pipeline):
    m = pipeline.read_meta("data_quality_metrics")
    assert m.count() == 12  # 4 checks x 3 services
    assert {r.service_type for r in m.collect()} == {"yellow", "green", "hvfhv"}


def test_stage_retry_recovers_transient_failure(spark, landing, tmp_path):
    """A stage that fails once and then succeeds must be retried in-run
    (reference parity: Prefect @task(retries=2), flows.py:34) — and the
    journal records the attempt count."""
    p = TlcPipeline(spark, PipelineConfig(warehouse_dir=str(tmp_path / "wh")))
    real = p.build_fact
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient executor loss")
        return real()

    p.build_fact = flaky
    summary = p.run_e2e(str(landing), zones_csv=str(landing / "taxi_zones.csv"), retries=1)
    assert summary["fact_rows"] == 1350
    state = json.load(open(p._state_path))
    assert state["stages"]["build_fact"] == {
        "status": "success",
        "attempts": 2,
        "result": 1350,
        "errors": ["RuntimeError: transient executor loss"],
    }


def test_killed_stage_resumes_without_rerunning_earlier_stages(spark, landing, tmp_path):
    """Kill the pipeline mid-run (build_fact dies beyond retries), then
    re-run: the resume must skip the completed stages — the ingestion log
    gains NO duplicate rows — and finish to the correct final state."""
    from nyc_tlc_analytics_pipeline_spark.pipeline import StageFailed

    p = TlcPipeline(spark, PipelineConfig(warehouse_dir=str(tmp_path / "wh")))
    real = p.build_fact

    def dead():
        raise RuntimeError("stage killed")

    p.build_fact = dead
    with pytest.raises(StageFailed) as ei:
        p.run_e2e(str(landing), zones_csv=str(landing / "taxi_zones.csv"), retries=0)
    assert ei.value.stage == "build_fact"
    log_rows = p.read_meta("ingestion_log").count()
    assert log_rows == 3  # ingest completed before the kill

    p.build_fact = real  # "fix the bug", re-run
    summary = p.run_e2e(str(landing), zones_csv=str(landing / "taxi_zones.csv"))
    assert summary["fact_rows"] == 1350
    assert summary["files_loaded"] == 3  # journaled result, stage not re-executed
    assert p.read_meta("ingestion_log").count() == 3  # no dup entries
    assert p.spark.read.parquet(p.fact_path).count() == 1350


def test_resume_loads_files_landed_after_the_failed_run(spark, landing, tmp_path):
    """A resumed run re-scans the landing dir: a file that landed after the
    failed run is loaded once, the journaled files are not reloaded, and
    the new rows reach fact_trips."""
    import shutil

    from nyc_tlc_analytics_pipeline_spark.pipeline import StageFailed

    land = tmp_path / "landing"
    shutil.copytree(landing, land)
    p = TlcPipeline(spark, PipelineConfig(warehouse_dir=str(tmp_path / "wh")))
    real = p.build_fact

    def dead():
        raise RuntimeError("stage killed")

    p.build_fact = dead
    with pytest.raises(StageFailed):
        p.run_e2e(str(land), zones_csv=str(land / "taxi_zones.csv"), retries=0)

    late = "yellow_tripdata_2025-02.parquet"
    synth_yellow(100, seed=2).drop(columns=["source_file"]).to_parquet(land / late)
    p.build_fact = real
    summary = p.run_e2e(str(land), zones_csv=str(land / "taxi_zones.csv"))
    assert summary["files_loaded"] == 4
    log = [r.source_file for r in p.read_meta("ingestion_log").collect()]
    assert len(log) == 4 and len(set(log)) == 4
    assert p._load_state()["stages"]["ingest"]["result"][-1]["source_file"] == late
    fact = p.spark.read.parquet(p.fact_path)
    assert fact.filter(f"source_file = '{late}'").count() > 0


def _killed_run_then_late_file(spark, landing, tmp_path):
    """A run killed at build_fact after ingesting the 3 fixture files,
    then a fourth file landed: (pipeline, landing dir, late file name)."""
    import shutil

    from nyc_tlc_analytics_pipeline_spark.pipeline import StageFailed

    land = tmp_path / "landing"
    shutil.copytree(landing, land)
    p = TlcPipeline(spark, PipelineConfig(warehouse_dir=str(tmp_path / "wh")))
    real = p.build_fact

    def dead():
        raise RuntimeError("stage killed")

    p.build_fact = dead
    with pytest.raises(StageFailed):
        p.run_e2e(str(land), zones_csv=str(land / "taxi_zones.csv"), retries=0)
    p.build_fact = real
    late = "yellow_tripdata_2025-02.parquet"
    synth_yellow(100, seed=2).drop(columns=["source_file"]).to_parquet(land / late)
    return p, land, late


def _fail_loading(p, fname, times):
    """Make ``p.load_file`` raise for ``fname`` the first ``times`` calls."""
    real, failed = p.load_file, []

    def load_file(path, service):
        if os.path.basename(path) == fname and len(failed) < times:
            failed.append(fname)
            raise RuntimeError(f"cannot read {fname}")
        return real(path, service)

    p.load_file = load_file
    return failed


def test_resume_retries_a_failed_catch_up_load(spark, landing, tmp_path):
    """The late file's load fails once: the resume retries it inside the
    ingest stage, finishes, and the ingest record lists the error."""
    p, land, late = _killed_run_then_late_file(spark, landing, tmp_path)
    failed = _fail_loading(p, late, times=1)
    summary = p.run_e2e(str(land), zones_csv=str(land / "taxi_zones.csv"))
    assert failed == [late]
    assert summary["files_loaded"] == 4
    ingest = p._load_state()["stages"]["ingest"]
    assert ingest["status"] == "success" and ingest["attempts"] == 2
    assert ingest["errors"] == [f"RuntimeError: cannot read {late}"]
    log = [r.source_file for r in p.read_meta("ingestion_log").collect()]
    assert sorted(log) == sorted(set(log)) and len(log) == 4


def test_resume_after_a_catch_up_load_that_kept_failing(spark, landing, tmp_path):
    """The late file's load fails on every attempt: the resume raises
    StageFailed at ingest.  Once the fault is gone, the next resume loads
    it; the 3 files journaled before are not loaded or logged again."""
    from nyc_tlc_analytics_pipeline_spark.pipeline import StageFailed

    p, land, late = _killed_run_then_late_file(spark, landing, tmp_path)
    real = p.load_file
    failed = _fail_loading(p, late, times=99)
    with pytest.raises(StageFailed) as ei:
        p.run_e2e(str(land), zones_csv=str(land / "taxi_zones.csv"), retries=1)
    assert ei.value.stage == "ingest"
    assert failed == [late, late]
    assert p._load_state()["stages"]["ingest"]["errors"] == 2 * [
        f"RuntimeError: cannot read {late}"
    ]
    assert p.read_meta("ingestion_log").count() == 3

    p.load_file = real  # fault removed
    summary = p.run_e2e(str(land), zones_csv=str(land / "taxi_zones.csv"))
    assert summary["files_loaded"] == 4
    assert summary["files_skipped"] == 0
    log = [r.source_file for r in p.read_meta("ingestion_log").collect()]
    assert len(log) == 4 and len(set(log)) == 4
    fact = p.spark.read.parquet(p.fact_path)
    assert fact.filter(f"source_file = '{late}'").count() > 0


def test_log_ids_unique_and_ordered_across_appends(spark, landing, tmp_path):
    """Each load appends its own ingestion_log row; the ids of three loads
    differ and increase in load order."""
    p = TlcPipeline(spark, PipelineConfig(warehouse_dir=str(tmp_path / "wh")))
    loads = p.load_landing_dir(str(landing))
    ids = {r.source_file: r.log_id for r in p.read_meta("ingestion_log").collect()}
    in_order = [ids[r["source_file"]] for r in loads]
    assert len(in_order) == 3
    assert in_order == sorted(set(in_order))


def test_retried_quality_stage_appends_metrics_once(spark, landing, tmp_path, monkeypatch):
    """The first quality attempt fails in green's checks; the retry must
    not leave the other services' metrics from that attempt behind."""
    from nyc_tlc_analytics_pipeline_spark.operators import quality

    real = quality.run_all_checks
    failed = []

    def flaky(raw, service, q=None):
        if service == "green" and not failed:
            failed.append(service)
            raise RuntimeError("transient executor loss")
        return real(raw, service, q)

    monkeypatch.setattr(quality, "run_all_checks", flaky)
    p = TlcPipeline(spark, PipelineConfig(warehouse_dir=str(tmp_path / "wh")))
    p.run_e2e(str(landing), zones_csv=str(landing / "taxi_zones.csv"), retries=1)
    assert failed == ["green"]
    assert p._load_state()["stages"]["quality"]["attempts"] == 2
    assert p.read_meta("data_quality_metrics").count() == 12


def test_side_by_side_keeps_caller_job_group(spark):
    """Pool threads run their jobs under the caller's job group and
    description, so jobs stay attributed to the stage that ran them."""
    from nyc_tlc_analytics_pipeline_spark.pipeline import side_by_side

    sc = spark.sparkContext
    with spark_jobs(spark) as ids:
        group = sc.getLocalProperty("spark.jobGroup.id")
        seen = side_by_side(
            spark,
            {
                k: lambda: (sc.getLocalProperty("spark.jobGroup.id"), spark.range(3).collect())[0]
                for k in "abcde"
            },
        )
    assert list(seen) == list("abcde")
    assert set(seen.values()) == {group}
    assert len(ids) >= 5


def test_run_e2e_job_budget(spark, landing, tmp_path):
    """A full run costs one Spark job per table written plus one scan per
    source and one quality aggregate per service: 36 jobs on this
    fixture.  A change that reads a table back to count it, or splits an
    aggregate, fails here."""
    p = TlcPipeline(spark, PipelineConfig(warehouse_dir=str(tmp_path / "wh")))
    with spark_jobs(spark) as ids:
        summary = p.run_e2e(str(landing), zones_csv=str(landing / "taxi_zones.csv"))
    assert summary["fact_rows"] == 1350
    assert len(ids) <= 36


def test_cli_analytics_unknown_query(pipeline, capsys):
    from nyc_tlc_analytics_pipeline_spark.cli import main

    rc = main(["--warehouse-dir", pipeline.config.warehouse_dir, "analytics", "nope"])
    assert rc == 2
    assert "unknown query" in capsys.readouterr().err

def test_cli_explain_prints_physical_plan(pipeline, capsys):
    from nyc_tlc_analytics_pipeline_spark.cli import main
    from .conftest import SF_SMOKE

    rc = main(
        [
            "--warehouse-dir", pipeline.config.warehouse_dir,
            "explain", "q01_top_nations_by_revenue", "--sf-dir", SF_SMOKE,
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "== Physical Plan ==" in out
    assert "Scan parquet" in out


def test_cli_explain_run_reports_rows(pipeline, capsys):
    import json as _json

    from nyc_tlc_analytics_pipeline_spark.cli import main
    from .conftest import SF_SMOKE

    rc = main(
        [
            "--warehouse-dir", pipeline.config.warehouse_dir,
            "explain", "q08_event_type_share", "--sf-dir", SF_SMOKE, "--run",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    stats = _json.loads(out.strip().rsplit("\n", 1)[-1])
    assert stats["rows"] == 5 and stats["secs"] >= 0


def test_cli_explain_unknown_query(pipeline, capsys):
    from nyc_tlc_analytics_pipeline_spark.cli import main

    rc = main(["--warehouse-dir", pipeline.config.warehouse_dir, "explain", "nope"])
    assert rc == 2
    assert "unknown query" in capsys.readouterr().err


def test_manifest_bronze_is_default_e2e(spark, landing, tmp_path):
    """Bronze tables are manifest tables: commit-log semantics
    (idempotent reload leaves one committed version per file, raw()
    reads through the manifest snapshot)."""
    wh = str(tmp_path / "wh_manifest")
    p = TlcPipeline(spark, PipelineConfig(warehouse_dir=wh))
    summary = p.run_e2e(str(landing), zones_csv=str(landing / "taxi_zones.csv"))
    assert summary["files_loaded"] == 3
    assert summary["fact_rows"] == 1350
    # reload skips via the manifest tag, not the partition dir
    again = p.load_landing_dir(str(landing))
    assert all(r["status"] == "skipped_already_loaded" for r in again)
    assert p._bronze_manifest("yellow").latest_version() == 1
    assert p.raw("yellow").count() == 400
    assert "source_file" in p.raw("yellow").columns


def test_concurrent_loaders_under_default_config(spark, landing, tmp_path):
    """Two loaders ingesting the SAME landing dir into the SAME warehouse
    at the same time, under the DEFAULT config: every file lands exactly
    once (one winner commits, the loser tag-skips), no torn or duplicated
    bronze data — the property the partition sink cannot give."""
    import threading

    wh = str(tmp_path / "wh_race")
    p1 = TlcPipeline(spark, PipelineConfig(warehouse_dir=wh))
    p2 = TlcPipeline(spark, PipelineConfig(warehouse_dir=wh))
    results: dict[str, list] = {}
    barrier = threading.Barrier(2)

    def load(name: str, p: TlcPipeline) -> None:
        barrier.wait()
        results[name] = p.load_landing_dir(str(landing))

    ts = [
        threading.Thread(target=load, args=("a", p1)),
        threading.Thread(target=load, args=("b", p2)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    statuses = [r["status"] for r in results["a"] + results["b"]]
    assert statuses.count("success") == 3  # each file exactly once
    assert statuses.count("skipped_already_loaded") == 3
    assert p1.raw("yellow").count() == 400  # no dup/torn data
    assert p1.raw("green").count() == 150
    assert p1.raw("hvfhv").count() == 800
    assert p1._bronze_manifest("yellow").latest_version() == 1


def test_cli_status_reports_tables(pipeline, capsys):
    """`status` (reference db-stats) prints per-table row counts across
    all warehouse layers, reading bronze through the configured format."""
    from nyc_tlc_analytics_pipeline_spark.cli import main

    rc = main(["--warehouse-dir", pipeline.config.warehouse_dir, "status"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["table_count"] == len(out["tables"]) > 0
    assert out["tables"]["silver.fact_trips"]["row_count"] == 1350
    assert out["tables"]["bronze.raw_yellow"]["row_count"] == 400
    assert out["tables"]["meta.ingestion_log"]["row_count"] >= 3
    assert all(
        "error" not in t or t["error"] is None for t in out["tables"].values()
    )
    assert out["total_size_bytes"] > 0


def test_cli_curate_writes_shards(pipeline, capsys, tmp_path):
    import json as _json

    from nyc_tlc_analytics_pipeline_spark.cli import main
    from .conftest import SF_SMOKE

    out_dir = str(tmp_path / "shards")
    rc = main(
        [
            "--warehouse-dir", pipeline.config.warehouse_dir,
            "curate", "--sf-dir", SF_SMOKE, "--out", out_dir,
        ]
    )
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out)
    assert summary["total"] > 0
    assert any(k.startswith("train/") for k in summary["shards"])
    back = pipeline.spark.read.parquet(out_dir)
    assert back.count() == summary["total"]
    assert set(back.columns) == {"doc_id", "lang", "split", "text"}


def test_cli_curate_redact_mode(pipeline, capsys, tmp_path):
    import json as _json

    from nyc_tlc_analytics_pipeline_spark.cli import main
    from .conftest import SF_SMOKE

    out_dir = str(tmp_path / "shards_redact")
    rc = main(
        [
            "--warehouse-dir", pipeline.config.warehouse_dir,
            "curate", "--sf-dir", SF_SMOKE, "--out", out_dir,
            "--decontam-mode", "redact",
        ]
    )
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out)
    assert summary["total"] > 0
    back = pipeline.spark.read.parquet(out_dir)
    assert back.filter("text = ''").count() == 0  # fully-redacted dropped
    assert set(back.columns) == {"doc_id", "lang", "split", "text"}
