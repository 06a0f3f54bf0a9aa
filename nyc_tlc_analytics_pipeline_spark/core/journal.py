"""Stage journal: per-stage retry and resume for job-shaped runs
(``TlcPipeline.run_e2e``, ``CurateJob.run``, ``CurateJob.run_incremental``)
— the Spark-side equivalent of the reference's per-task
``@task(retries=2)`` wiring (reference: src/orchestration/flows.py:34).

The journal is one JSON file, ``{"stages": {name: record}}``.  A record
holds ``status`` ("success" or "failed"), ``attempts``, ``errors`` (one
``"<ExcClass>: <message>"`` per failed attempt) and, on success, the
stage's JSON-sized ``result``.  Completed stages are skipped on re-entry;
every stage body is an idempotent write, so a retry after a partial
failure converges to the same state.  A stage reopened after it
succeeded keeps its last result, even if the re-run fails, so a stage
that extends its own result (the ingest catch-up) resumes from it.

A journal is thread-safe per stage: several threads may each ``run``
their own stage at once (``run_e2e`` runs independent stages side by
side).  Record updates and saves happen under one lock, so every save
writes the records of all stages finished so far."""

from __future__ import annotations

import json
import os
import threading
from collections.abc import Callable, Iterable
from typing import Any

from .pins import release_pins


class StageFailed(RuntimeError):
    """A stage exhausted its retries; the journal on disk marks every
    stage that finished complete, so a re-run resumes at this stage and
    the stages that had not finished."""

    def __init__(self, stage: str, attempts: int, cause: Exception):
        super().__init__(f"stage {stage!r} failed after {attempts} attempt(s): {cause}")
        self.stage = stage
        self.attempts = attempts
        self.cause = cause


def load(path: str) -> dict:
    """The journal at ``path``; a missing or unreadable file reads as empty."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {"stages": {}}


class Journal:
    """The stage records of one run, saved to ``path`` after every stage.

    A journal whose ``stages`` all succeeded belongs to a finished run and
    starts fresh; ``resume=False`` ignores what is on disk."""

    def __init__(self, path: str, stages: Iterable[str], resume: bool = True):
        self.path = path
        self.stages = load(path)["stages"] if resume else {}
        if all(self.done(s) for s in stages):
            self.stages = {}  # previous run finished — start fresh
        self._lock = threading.Lock()

    def done(self, name: str) -> bool:
        return self.stages.get(name, {}).get("status") == "success"

    def result(self, name: str) -> Any:
        """The result of the stage's last success, or None."""
        return self.stages.get(name, {}).get("result")

    def reopen(self, name: str) -> None:
        """Make a stage that succeeded run again on its next ``run``."""
        with self._lock:
            if self.done(name):
                self.stages[name]["status"] = "reopened"

    def save(self) -> None:
        """Write every record to ``path``; callers hold the lock."""
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"stages": self.stages}, f)
        os.replace(tmp, self.path)  # atomic: a crash never half-writes

    def run(self, name: str, fn: Callable[[], Any], retries: int) -> Any:
        """``fn()``'s result, from the journal if the stage already
        succeeded, else from up to ``retries + 1`` attempts.  Pins are
        released after every attempt: stages hand off through written
        tables, so a frame pinned inside one is dead once it returns."""
        if self.done(name):
            return self.stages[name]["result"]
        errors: list[str] = []
        last: Exception | None = None
        for attempt in range(1, retries + 2):
            try:
                result = fn()
            except Exception as e:  # noqa: BLE001 — stage isolation boundary
                errors.append(f"{type(e).__name__}: {e}")
                last = e
                continue
            finally:
                release_pins()
            with self._lock:
                self.stages[name] = {
                    "status": "success",
                    "attempts": attempt,
                    "result": result,
                    "errors": errors,
                }
                self.save()
            return result
        record = {"status": "failed", "attempts": retries + 1, "errors": errors}
        with self._lock:
            if "result" in self.stages.get(name, {}):  # a reopened stage keeps it
                record["result"] = self.stages[name]["result"]
            self.stages[name] = record
            self.save()
        raise StageFailed(name, retries + 1, last)
