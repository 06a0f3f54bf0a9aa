"""The stage journal shared by ``TlcPipeline.run_e2e`` and ``CurateJob``:
load/save, resume and retry rules, without a Spark session."""

from __future__ import annotations

import json
import threading
import types

import pytest

from nyc_tlc_analytics_pipeline_spark.core import journal
from nyc_tlc_analytics_pipeline_spark.core.journal import Journal, StageFailed, load

STAGES = ("a", "b")


def _write(path, stages: dict) -> None:
    path.write_text(json.dumps({"stages": stages}))


def _ok(result) -> dict:
    return {"status": "success", "attempts": 1, "result": result, "errors": []}


@pytest.mark.parametrize("text", ['{"stages": {"a": {"status": "succ', "\x00garbage"])
def test_corrupt_or_half_written_journal_reads_as_empty(tmp_path, text):
    path = tmp_path / "state.json"
    path.write_text(text)
    assert load(str(path)) == {"stages": {}}
    assert load(str(tmp_path / "missing.json")) == {"stages": {}}
    assert Journal(str(path), STAGES).stages == {}


def test_finished_journal_restarts_fresh(tmp_path):
    path = tmp_path / "state.json"
    _write(path, {"a": _ok(1), "b": _ok(2)})
    j = Journal(str(path), STAGES)
    assert j.stages == {}
    assert j.run("a", lambda: 10, retries=0) == 10


def test_resume_false_ignores_prior_state(tmp_path):
    path = tmp_path / "state.json"
    _write(path, {"a": _ok(1)})
    assert Journal(str(path), STAGES).run("a", lambda: 10, retries=0) == 1
    assert Journal(str(path), STAGES, resume=False).run("a", lambda: 10, retries=0) == 10


def test_completed_stage_is_not_rerun(tmp_path):
    path = str(tmp_path / "meta" / "state.json")
    calls = []

    def stage():
        calls.append(1)
        return {"rows": 3}

    assert Journal(path, STAGES).run("a", stage, retries=2) == {"rows": 3}
    assert Journal(path, STAGES).run("a", stage, retries=2) == {"rows": 3}
    assert len(calls) == 1
    assert load(path)["stages"]["a"] == _ok({"rows": 3})


def test_failed_attempts_keep_their_error_text(tmp_path):
    path = str(tmp_path / "state.json")
    failures = iter([KeyError("k"), None])

    def flaky():
        err = next(failures)
        if err:
            raise err
        return 7

    assert Journal(path, STAGES).run("a", flaky, retries=1) == 7
    assert load(path)["stages"]["a"] == {
        "status": "success",
        "attempts": 2,
        "result": 7,
        "errors": ["KeyError: 'k'"],
    }


def test_stage_failed_carries_stage_attempts_and_last_cause(tmp_path):
    path = str(tmp_path / "state.json")
    n = iter(range(1, 10))

    def dead():
        raise RuntimeError(f"attempt {next(n)}")

    j = Journal(path, STAGES)
    j.run("a", lambda: 1, retries=0)
    with pytest.raises(StageFailed) as ei:
        j.run("b", dead, retries=2)
    assert (ei.value.stage, ei.value.attempts) == ("b", 3)
    assert str(ei.value.cause) == "attempt 3"
    stages = load(path)["stages"]
    assert stages["a"]["status"] == "success"
    assert stages["b"] == {
        "status": "failed",
        "attempts": 3,
        "errors": [f"RuntimeError: attempt {i}" for i in (1, 2, 3)],
    }


def test_stages_run_at_once_are_both_saved(tmp_path, monkeypatch):
    """Two threads run their own stages of one journal at once: both
    records reach the saved journal, and neither save breaks the other."""
    path = str(tmp_path / "state.json")
    j = Journal(path, STAGES)
    together = threading.Barrier(2, timeout=10)
    saving = threading.Barrier(2)

    def dump(obj, f):
        # hold a save open until the other thread's save starts too; saves
        # the journal serializes stop waiting after a second
        try:
            saving.wait(timeout=1)
        except threading.BrokenBarrierError:
            pass
        json.dump(obj, f)

    monkeypatch.setattr(journal, "json", types.SimpleNamespace(load=json.load, dump=dump))
    results, errors = {}, []

    def run(name):
        try:
            results[name] = j.run(name, lambda: (together.wait(), name)[1], retries=0)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(name,)) for name in STAGES]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and results == {"a": "a", "b": "b"}
    assert load(path)["stages"] == {"a": _ok("a"), "b": _ok("b")}
