#!/usr/bin/env python
"""Benchmark harness: times the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock of all timed queries (collect() forces
execution). Set BENCH_ALL=1 to time every catalog query, not just the
headline set.

Set BENCH_SCALE=N (N > 1) to bench at N× the source scale factor: the fact
tables (customer/orders/lineitem/part/supplier/events/documents/embeddings)
are materialized once to .bench_scaled/ as N key-shifted copies with
foreign keys kept consistent (dims region/nation stay fixed, as in TPC-H
scaling), document text is token-salted per copy, and embedding vectors get
a per-copy orthogonal rotation, so the dedup/near-dup/ANN queries scale
linearly instead of gaining N² cross-copy duplicate pairs.
This is the cost-curve probe for the exact-percentile and shingle-heavy
queries before real cluster runs."""

from __future__ import annotations

import json
import os
import sys
import time

# entity key spaces: every column in one entity shifts by the same offset
# per copy, so FK joins stay valid and join cardinality scales ~N×
_SCALE_KEYMAP = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
_ENTITY_MAX_SRC = {
    "cust": ("customer", "c_custkey"),
    "order": ("orders", "o_orderkey"),
    "part": ("part", "p_partkey"),
    "supp": ("supplier", "s_suppkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}


def materialize_scaled(spark, src_dir: str, n_copies: int) -> str:
    """Write an N× copy of the testdata into .bench_scaled/ (idempotent:
    skipped if the marker file exists) and return the new sf dir."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.sources.testdata import (
        TESTDATA_TABLES,
        load_table,
    )

    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_scaled",
        f"{os.path.basename(src_dir.rstrip('/'))}x{n_copies}",
    )
    marker = os.path.join(out, "_ALL_TABLES_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    offsets = {
        ent: load_table(spark, src_dir, tbl).agg(F.max(key)).head()[0] + 1
        for ent, (tbl, key) in _ENTITY_MAX_SRC.items()
    }
    emb_dim = int(
        load_table(spark, src_dir, "embeddings").select(F.size("embedding")).head()[0]
    )
    for name in TESTDATA_TABLES:
        base = load_table(spark, src_dir, name)
        keymap = _SCALE_KEYMAP.get(name)
        if not keymap:  # region/nation: fixed dims, copied once
            scaled = base
        else:
            parts = []
            for i in range(n_copies):
                c = base
                for colname, ent in keymap.items():
                    c = c.withColumn(colname, F.col(colname) + F.lit(i * offsets[ent]))
                if name == "documents" and i > 0:
                    # token-salt: within-copy similarity structure identical,
                    # cross-copy shingle/minhash intersection exactly zero
                    c = c.withColumn(
                        "text",
                        F.array_join(
                            F.transform(
                                F.split(F.col("text"), " "),
                                lambda t: F.concat(t, F.lit(f"_{i}")),
                            ),
                            " ",
                        ),
                    )
                if name == "embeddings" and i > 0:
                    # per-copy ORTHOGONAL transform (circular rotation by
                    # i mod dim, plus whole-vector negation every dim
                    # copies): within-copy pairwise cosines are preserved
                    # exactly, but a vector and its cross-copy twin point
                    # in unrelated directions — no artificial cos=1.0
                    # duplicate pairs, so near-dup/ANN volume scales ~N,
                    # mirroring the documents token-salt above
                    shift = i % emb_dim
                    rotated = F.concat(
                        F.slice("embedding", shift + 1, emb_dim - shift),
                        F.slice("embedding", 1, shift),
                    ) if shift else F.col("embedding")
                    if (i // emb_dim) % 2 == 1:
                        rotated = F.transform(rotated, lambda x: -x)
                    c = c.withColumn("embedding", rotated)
                parts.append(c)
            scaled = parts[0]
            for p in parts[1:]:
                scaled = scaled.unionByName(p)
        scaled.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return out


def host_calibration(n: int = 300_000) -> float:
    """Fixed single-thread CPU reference: seconds to md5 n short
    strings in pure Python.  Workload-independent and deterministic, so
    round-over-round BENCH totals can be normalized for host burst-
    capacity variance (the r6/r8 lesson: two 'regressions' were the
    HOST slowing down, not the plans — each cost a round of bench
    signal to disprove).  Divide a round's total by (calibration /
    reference-calibration) before comparing rounds."""
    import hashlib

    t0 = time.perf_counter()
    h = hashlib.md5()
    for i in range(n):
        h = hashlib.md5(h.digest() + str(i).encode())
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    # measured BEFORE any Spark work: paired with the end-of-run
    # `calibration`, the delta exposes co-tenant contention that moved
    # DURING the run (the r10→r11 lesson: a "+15% regression" at a
    # near-identical end-calibration was the host slowing mid-window)
    calibration_pre = round(host_calibration(), 4)

    from nyc_tlc_analytics_pipeline_spark.core.pins import release_pins
    from nyc_tlc_analytics_pipeline_spark.core.session import build_session
    from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES

    spark = build_session(app_name="bench", master=f"local[{cpus}]")

    scale = int(os.environ.get("BENCH_SCALE", "1"))
    if scale > 1:
        sf_dir = materialize_scaled(spark, sf_dir, scale)

    names = [
        n
        for n, spec in sorted(QUERIES.items())
        if spec.headline or os.environ.get("BENCH_ALL") == "1"
    ]
    # BENCH_ONLY=q01,q55 restricts the timed set (substring match) —
    # the session-composition bisect knob: identical code, smaller set
    only = [f for f in os.environ.get("BENCH_ONLY", "").split(",") if f]
    if only:
        names = [n for n in names if any(f in n for f in only)]

    def _quiesce(s) -> None:
        # drop every pin the previous timed window registered BEFORE the
        # next window starts: persist() pins are matched by logical plan
        # in Spark's CacheManager, so without this a query's warm run
        # (and any later query sharing a subtree) would read the cold
        # run's cached intermediates instead of computing from parquet —
        # the round-14 pin unification (75dd30a) silently changed warm
        # semantics vs the r9–r13 localCheckpoint pins, which never
        # cross-matched between builds.  Every timed window now computes
        # the full query from the parquet inputs, same as every prior
        # round (measurement-bug fix, OPTIMIZATION_r14.md).
        release_pins()
        s.sparkContext._jvm.System.gc()
        time.sleep(0.7)

    # warm the JVM + parquet footers with the cheapest query once
    QUERIES[names[0]].build(spark, sf_dir).collect()
    _quiesce(spark)

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    # per-query calibration samples taken BETWEEN timed windows: twice
    # (r13 anchor-pair run 2, the driver's r13 bench) gate-passing
    # ENDPOINT calibrations bracketed a contended middle and the total
    # moved 37–150% with no code change — the endpoints are blind to
    # mid-run load (VERDICT r13 item 2).  Each query's entry is the
    # probe measured right after its warm run, so a reader can see
    # WHICH timings a load burst actually touched, and the anchor gate
    # rejects on the mid-run MAX, not the endpoints.
    mid_cal: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        QUERIES[name].build(spark, sf_dir).collect()
        timings[name] = round(time.perf_counter() - t0, 3)
        # measurement hygiene, OUTSIDE every timed window: collect garbage
        # between runs so one run's heap debris (broadcast blocks, codegen
        # classes) can't bill a stop-the-world pause to the NEXT timing —
        # seen as q91 "cold 25s" when it ran 17th in-session but 3.5s
        # alone.  The GC also queues ContextCleaner work (unpersisting
        # dead broadcast/shuffle blocks), which runs ASYNC and would
        # otherwise stall executors mid-measurement — the short sleep
        # lets it drain first.  JIT-compiled classes and parquet footer
        # caches survive GC, so the warm run still measures steady state.
        _quiesce(spark)
        # second run: whole-stage-codegen classes are JIT-compiled, so this
        # is the steady-state (scale-relevant) latency
        t0 = time.perf_counter()
        QUERIES[name].build(spark, sf_dir).collect()
        warm[name] = round(time.perf_counter() - t0, 3)
        _quiesce(spark)
        # outside both timed windows; ~0.2 s per query at idle
        mid_cal[name] = round(host_calibration(), 4)

    # ingest/standardize throughput: generate yellow-shaped rows with pure
    # Spark expressions, run the full standardize+dedup transform, count.
    # Comparable to the reference's raw-load throughput (BASELINE.md:
    # ~49M rows in ≤2 min ≈ 400k+ rows/s single node).
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators.standardize import build_fact_trips

    n_rows = int(os.environ.get("BENCH_INGEST_ROWS", "2000000"))
    base_ts = F.lit("2025-01-01 00:00:00").cast("timestamp")
    raw = spark.range(n_rows).select(
        (F.col("id") % 2 + 1).cast("int").alias("VendorID"),
        (base_ts + F.make_interval(secs=(F.col("id") % 2592000).cast("double"))).alias(
            "tpep_pickup_datetime"
        ),
        (
            base_ts
            + F.make_interval(secs=((F.col("id") % 2592000) + 300 + F.col("id") % 3600).cast("double"))
        ).alias("tpep_dropoff_datetime"),
        F.lit(1.0).alias("passenger_count"),
        ((F.col("id") % 1800) / 100.0 + 0.3).alias("trip_distance"),
        F.lit(1.0).alias("RatecodeID"),
        F.lit("N").alias("store_and_fwd_flag"),
        (F.col("id") % 260 + 1).cast("int").alias("PULocationID"),
        (F.col("id") % 259 + 1).cast("int").alias("DOLocationID"),
        F.lit(1).alias("payment_type"),
        ((F.col("id") % 4000) / 100.0 + 3.0).alias("fare_amount"),
        F.lit(0.5).alias("extra"),
        F.lit(0.5).alias("mta_tax"),
        ((F.col("id") % 700) / 100.0).alias("tip_amount"),
        F.lit(0.0).alias("tolls_amount"),
        F.lit(0.3).alias("improvement_surcharge"),
        ((F.col("id") % 4000) / 100.0 + 6.8).alias("total_amount"),
        F.lit(2.5).alias("congestion_surcharge"),
        F.lit(0.0).alias("Airport_fee"),
        F.lit("bench.parquet").alias("source_file"),
    )
    t0 = time.perf_counter()
    fact_rows = build_fact_trips(yellow=raw).count()
    ingest_secs = time.perf_counter() - t0
    ingest_rows_per_sec = int(fact_rows / ingest_secs)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1].split("x")[0]
    if scale > 1:
        try:
            sf = str(float(sf) * scale)
        except ValueError:
            pass
    result = {
        "metric": "headline-query wall-clock (sum)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "ingest_rows": fact_rows,
        "ingest_secs": round(ingest_secs, 3),
        "ingest_rows_per_sec": ingest_rows_per_sec,
        "queries_warm": warm,
        "warm_total": round(sum(warm.values()), 3),
        # single-thread md5 reference (seconds; lower = faster host) —
        # normalize cross-round totals through this before calling a
        # delta a regression (BENCH_SCALING.md round-9 note)
        "calibration": round(host_calibration(), 4),
        "calibration_pre": calibration_pre,
        # per-query mid-run load samples + their max: a run is quiet
        # only if the WHOLE window stayed idle, not just its endpoints
        "queries_calibration": mid_cal,
        "calibration_mid_max": max(mid_cal.values()) if mid_cal else None,
    }
    if scale > 1:
        result["scale_copies"] = scale
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
