#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload tlc-etl --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process, one SparkSession on
``local[<nproc>]``, one closed-loop client.  The run builds the
session, generates its inputs from ``--seed``, runs one cold pass, one
warm-up pass and the timed passes, then checks the outputs outside every
timed window.  A workload whose pass is longer than the window runs the
cold pass only.

The last stdout line is the result object.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` turns on the Spark event log and
reports the per-layer metrics instead.  The line before it (``context``)
holds per-pass wall times, input sizes and host calibration; the line
before that is a human-readable summary including ``error_rate``.

Scratch files (inputs, warehouses, ``SPARK_LOCAL_DIRS``, event logs)
live under ``.perfbench_tmp/`` and are deleted at exit; traced runs
write their spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

from measure import (  # noqa: E402
    EventLog,
    Tracer,
    cpu_ticks,
    event_log_conf,
    host_calibration,
    java_pid,
    peak_rss_mb,
    steal_share,
)

# warm passes run after the cold one and left out of pass_s: JIT warm-up
# lasts more than one pass (steadiness.json, pass_walls_s by index)
WARMUP = 1
# a fixed-size driver heap (initial = maximum): G1 grows a lazily sized
# heap in steps timed by GC overhead, so the JVM high-water mark of
# identical runs varied by 21-29 % (steadiness.json, labels tune1, tune2)
DRIVER_MEMORY = "2g"


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import nyc_tlc_analytics_pipeline_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {pkg.__file__} is not the checkout's source", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    calibration_before = host_calibration()
    t_start = time.perf_counter()
    setup_ticks = cpu_ticks()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    spark = None
    try:
        from nyc_tlc_analytics_pipeline_spark.core.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        }
        if args.trace:
            conf.update(event_log_conf(os.path.join(work, "events")))
        tracer = Tracer()
        with tracer.span("session"):
            spark = build_session(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{nproc}]",
                shuffle_partitions=nproc,
                extra_conf=conf,
            )
        session_s = time.perf_counter() - t_start
        jvm = java_pid(spark.sparkContext._gateway.proc.pid)
        run = Run(spark, tracer)
        wl = WORKLOADS[args.workload](run, work, args.seed)
        with tracer.span("generate") as s:
            props = wl.setup()
        gen_s = s["end"] - s["start"]
        setup_wall = time.perf_counter() - t_start
        setup_steal = steal_share(setup_ticks, cpu_ticks())

        # the window holds the warm-up passes and as many whole timed
        # passes as fit after them; a workload whose pass is longer than
        # the window runs only the cold pass, and pass_s reports that pass
        timed_n = max(int(args.seconds // wl.nominal_pass_s) - WARMUP, 0)
        warm_n = WARMUP if timed_n else 0
        walls, steal, rss_by_pass = [], [], []
        for idx in range(1 + warm_n + timed_n):
            ticks = cpu_ticks()
            with tracer.span("pass", index=idx) as s:
                wl.run_pass(idx)
            walls.append(s["end"] - s["start"])
            steal.append(steal_share(ticks, cpu_ticks()))
            rss_by_pass.append(peak_rss_mb(jvm))
        timed = list(range(1 + warm_n, 1 + warm_n + timed_n)) or [0]
        # times are reported net of hypervisor steal: with nothing else
        # changed, a tlc-etl pass took 38 s to 61 s as the share of all CPU
        # ticks stolen by other guests rose from 1 % to 17 %
        # (steadiness.json, labels proof5A and proof5B)
        setup_s = setup_wall * (1 - setup_steal)
        nets = [w * (1 - x) for w, x in zip(walls, steal)]
        pass_s = statistics.median(nets[i] for i in timed)
        rss = rss_by_pass[-1]

        wl.finish(bool(args.trace))
        stop_spark(spark)
        spark = None
        events = EventLog(os.path.join(work, "events")) if args.trace else None
        wl.check()
        calibration_after = host_calibration()

        error_rate = run.failed / max(run.attempted, 1)
        end_to_end = metric_units("end_to_end")
        if args.trace:
            units = metric_units("per_layer")
            values = {k: 0.0 for k in units}  # layers this workload never calls read 0
            values.update(wl.layer_metrics(timed, events))
            values["trace.pass_s"] = pass_s
            tracer.write(
                os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}-{os.getpid()}.json")
            )
        else:
            units = end_to_end
            values = {"setup_s": setup_s, "cold_pass_s": nets[0], "pass_s": pass_s, "peak_rss_mb": rss}
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "parallelism": f"local[{nproc}]",
            "loop": "closed, 1 client",
            "warmup_passes": warm_n,
            "timed_passes": timed_n,
            "pass_walls_s": walls,
            "steal_share_by_pass": steal,
            "wall_s": {
                "setup": setup_wall,
                "cold_pass": walls[0],
                "pass": statistics.median(walls[i] for i in timed),
            },
            "setup_steal_share": setup_steal,
            "peak_rss_mb_by_pass": rss_by_pass,
            "per_pass": [wl.pass_record(i) for i in range(len(walls))],
            "session_s": session_s,
            "generate_s": gen_s,
            "inputs": props,
            "error_rate": error_rate,
            "errors": run.errors[:10],
            "calibration_s": {"before": calibration_before, "after": calibration_after},
        }
        summary = "  ".join(f"{k}={v:.4g} {units[k]}" for k, v in values.items() if k in end_to_end)
        print(f"{args.workload} seed={args.seed}: {summary}  error_rate={error_rate:.4g} ratio")
        print(json.dumps({"context": context}))
        print(
            json.dumps(
                {
                    "correct": run.failed == 0,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
