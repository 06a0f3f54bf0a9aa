#!/usr/bin/env python3
"""Steadiness check: run the benchmark over several seeds and report the
spread of every metric.

    python3 perfbench/steady.py --workload tlc-etl --seeds 1-10 --seconds 20 --label A
    python3 perfbench/steady.py --workload tlc-etl --seeds 7,7 --seconds 20 --trace 1 --against A

For each metric the spread is (Q3 - Q1) / median over the runs, with the
quartiles of ``statistics.quantiles(values, n=4)``.  Traced runs also
list the per-layer values that repeat exactly, and the tracing overhead:
traced ``pass_s`` minus the median ``pass_s`` of the untraced runs
labelled ``--against``.

Every run is appended to ``perfbench/steadiness.json``: per-pass wall
times, per-pass stage or build/collect times, metrics and host
calibration.  That record is the evidence for the pass structure and
shows within-session drift.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RECORD = os.path.join(HERE, "steadiness.json")


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}")
    result, context = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "seconds": seconds,
        "run_wall_s": time.time() - t0,
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "pass_walls_s": context["pass_walls_s"],
        "steal_share_by_pass": context["steal_share_by_pass"],
        "wall_s": context["wall_s"],
        "per_pass": context["per_pass"],
        "calibration_s": context["calibration_s"],
        "inputs": context["inputs"],
        "errors": context["errors"],
    }


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--label", default="", help="free text stored with each run")
    ap.add_argument("--against", help="label of the untraced runs to measure tracing overhead against")
    args = ap.parse_args()

    record = json.load(open(RECORD)) if os.path.exists(RECORD) else {"runs": []}
    runs = []
    for seed in seeds(args.seeds):
        r = run_once(args.workload, seed, args.seconds, args.trace)
        r["label"] = args.label
        runs.append(r)
        record["runs"].append(r)
        with open(RECORD, "w") as f:
            json.dump(record, f, indent=1)
        print(
            f"seed {seed}: correct={r['correct']} wall={r['run_wall_s']:.1f}s "
            f"passes={[round(w, 2) for w in r['pass_walls_s']]} "
            f"steal={[round(x, 3) for x in r['steal_share_by_pass']]} "
            + " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items() if "." not in k),
            flush=True,
        )
    if len(runs) >= 2:
        names = runs[0]["metrics"].keys()
        if args.trace:
            # a layer the workload never calls reads 0 in every run
            exact = [k for k in names if len({r["metrics"][k] for r in runs}) == 1 and runs[0]["metrics"][k]]
            print("repeat exactly (non-zero):", ", ".join(exact))
            untraced = [
                r["metrics"]["pass_s"] for r in record["runs"]
                if r["workload"] == args.workload and not r["trace"] and r["label"] == args.against
            ]
            if untraced:
                traced = statistics.median(r["metrics"]["trace.pass_s"] for r in runs)
                print(f"tracing overhead: {traced - statistics.median(untraced):+.3f} s "
                      f"(traced {traced:.3f} s, untraced median {statistics.median(untraced):.3f} s)")
        else:
            rows = [(k, [r["metrics"][k] for r in runs]) for k in names]
            rows += [(f"{k} wall, steal kept", [r["wall_s"][k] for r in runs]) for k in runs[0]["wall_s"]]
            for k, values in rows:
                s = spread(values)
                print(f"{k}: median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.3%}")
        print(f"run wall: median={statistics.median(r['run_wall_s'] for r in runs):.1f}s "
              f"max={max(r['run_wall_s'] for r in runs):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
