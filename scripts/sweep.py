"""Full driver-contract sweep: run every __spark_entry__.queries() entry
with a VANILLA SparkSession against its oracle_sql() in DuckDB at sf0.01,
timing each query.  Mirrors the harness comparator (sorted column names,
row count, order-insensitive stringified rows).

    python scripts/sweep.py [name-filter ...]

The session runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on).  The measured times go to ``scripts/sweep_times.json``,
which ``__spark_entry__`` reads; a filtered sweep updates only its own
queries' entries."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SWEEP_SF", "/root/testdata/sf0.01")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
TIMES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sweep_times.json")
ONLY = sys.argv[1:]  # optional query-name filters (substring match)


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = SparkSession.builder.master(f"local[{CPUS}]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    from nyc_tlc_analytics_pipeline_spark.core.pins import release_pins

    def storage_mb() -> float:
        # driver+executor storage memory actually used by cached blocks
        # (local mode: one executor row), via the status-store API
        try:
            mems = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
            it = mems.iterator()
            used = 0
            while it.hasNext():
                kv = it.next()
                total, free = kv._2()._1(), kv._2()._2()
                used += total - free
            return round(used / 1e6, 1)
        except Exception:
            return -1.0

    qs, osql = e.queries(), e.oracle_sql()
    names = [n for n in qs if not ONLY or any(f in n for f in ONLY)]
    t_all = time.time()
    fails, times = [], {}
    storage_hw = 0.0
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, SF)
            rows = [[str(c) for c in r] for r in df.collect()]
            cols = sorted(df.columns)
            order = [df.columns.index(c) for c in cols]
            skey = sorted(",".join(r[i] for i in order) for r in rows)
            cur = con.execute(osql[name])
            dcols_raw = [d[0] for d in cur.description]
            drows = [[str(c) for c in r] for r in cur.fetchall()]
            dcols = sorted(dcols_raw)
            dorder = [dcols_raw.index(c) for c in dcols]
            dkey = sorted(",".join(r[i] for i in dorder) for r in drows)
            if cols != dcols:
                status = f"SCHEMA {cols} vs {dcols}"
            elif len(skey) != len(dkey):
                status = f"ROWS {len(skey)} vs {len(dkey)}"
            elif skey != dkey:
                bad = [(a, b) for a, b in zip(skey, dkey) if a != b][:2]
                status = f"VALUES {bad}"
            else:
                status = "ok"
        except Exception as ex:  # noqa: BLE001
            status = f"ERROR {type(ex).__name__}: {ex}"[:200]
        dt = time.time() - t0
        times[name] = round(dt, 2)
        storage_hw = max(storage_hw, storage_mb())
        # release per query (core.pins rule): a full catalog sweep in
        # one session must keep its cached-block high-water one-query-
        # sized instead of accumulating 187 queries' pins (ADVICE r13)
        release_pins()
        if status != "ok":
            fails.append((name, status))
        print(f"{name:45s} {dt:6.2f}s  {status}", flush=True)
    total = time.time() - t_all
    print(f"\ntotal {total:.1f}s over {len(names)} queries")
    slow = sorted(times.items(), key=lambda kv: -kv[1])[:8]
    print("slowest:", json.dumps(dict(slow)))
    print(f"storage high-water: {storage_hw} MB (released per query)")
    try:
        with open(TIMES) as f:
            times = {**json.load(f)["times"], **times}
    except (OSError, ValueError, KeyError):
        pass
    with open(TIMES, "w") as f:
        json.dump({"sf": SF, "times": times, "storage_hw_mb": storage_hw}, f)
    if fails:
        print("FAILURES:", fails)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
