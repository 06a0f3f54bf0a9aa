"""Measurement plumbing: Python spans, Spark event-log attribution,
process memory and a host calibration loop.

Spans are kept in memory and written once, when the run ends.  Every
Spark job the benchmark triggers carries a job description
``<pass>:<op>`` so the event log can be split by pass and operation.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import resource
import time
from contextlib import contextmanager


class Tracer:
    """Spans (id, name, start, end, parent id) around each public call."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def host_calibration(n: int = 300_000) -> float:
    """Seconds for a fixed single-thread md5 chain: a workload-independent
    reading of how fast the machine runs right now."""
    t0 = time.perf_counter()
    h = hashlib.md5()
    for i in range(n):
        h = hashlib.md5(h.digest() + str(i).encode())
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat`` (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time this machine's CPUs wanted, between two
    ``cpu_ticks()`` readings, that the hypervisor gave to other guests:
    steal / (busy + steal).  A run whose every thread needs a CPU to make
    progress takes about ``1 / (1 - share)`` times as long as it would on
    a host without steal."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return d[7] / max(busy + d[7], 1)


# -- memory --------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def java_pid(root_pid: int) -> int | None:
    """The java process among ``root_pid`` and its descendants."""
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
        todo += _children(pid)
    return None


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(jvm_pid: int) -> float:
    """Python driver's ``ru_maxrss`` plus the JVM's ``VmHWM``: both are
    kernel-kept high-water marks, so nothing is sampled."""
    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (driver_kb + vm_hwm_kb(jvm_pid)) / 1024.0


# -- Spark event log -------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one plain JSON-lines file
    }


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class EventLog:
    """Jobs, stages and task metrics of one application, keyed by the
    ``<pass>:<op>`` job description the benchmark set."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.stages: dict[int, int] = {}  # completed stage attempts per job
        self.tasks: dict[int, dict] = {}
        for path in glob.glob(os.path.join(log_dir, "*")):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        label = (ev.get("Properties") or {}).get("spark.job.description") or ""
                        self.jobs[jid] = {"label": label, "start": ev["Submission Time"] / 1e3}
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerJobEnd":
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerStageCompleted":
                        jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                        self.stages[jid] = self.stages.get(jid, 0) + 1
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev["Stage ID"])
                        m = ev.get("Task Metrics") or {}
                        t = self.tasks.setdefault(
                            jid, {"n": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_w": 0, "spill": 0}
                        )
                        t["n"] += 1
                        t["cpu_ns"] += m.get("Executor CPU Time", 0)
                        t["gc_ms"] += m.get("JVM GC Time", 0)
                        t["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )

    def job_ids(self, prefix: str) -> list[int]:
        return [j for j, rec in self.jobs.items() if rec["label"].startswith(prefix)]

    def summary(self, prefix: str, windows: list[tuple[float, float]]) -> dict[str, float]:
        """``spark.*`` metrics of the jobs labelled ``prefix*``.

        ``gap_s`` is the driver time inside ``windows`` (collect calls or
        pipeline stages) not covered by any job span."""
        ids = self.job_ids(prefix)
        spans = [(self.jobs[j]["start"], self.jobs[j]["end"]) for j in ids if "end" in self.jobs[j]]
        tasks = [self.tasks.get(j, {}) for j in ids]
        inside = [
            (max(a, w0), min(b, w1)) for a, b in spans for w0, w1 in windows if a < w1 and b > w0
        ]
        return {
            "spark.jobs": len(ids),
            "spark.stages": sum(self.stages.get(j, 0) for j in ids),
            "spark.tasks": sum(t.get("n", 0) for t in tasks),
            "spark.job_s": _union_s(spans),
            "spark.gap_s": sum(b - a for a, b in windows) - _union_s(inside),
            "spark.executor_cpu_s": sum(t.get("cpu_ns", 0) for t in tasks) / 1e9,
            "spark.gc_s": sum(t.get("gc_ms", 0) for t in tasks) / 1e3,
            "spark.shuffle_write_bytes": sum(t.get("shuffle_w", 0) for t in tasks),
            "spark.spill_bytes": sum(t.get("spill", 0) for t in tasks),
        }
