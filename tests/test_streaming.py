"""Structured Streaming tests: each streaming plan must drain the bounded
events directory (availableNow) and agree with its batch-equivalent
aggregation on the same data — the batch/streaming unification contract."""

from __future__ import annotations

import os
import shutil

import pytest

from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table
from nyc_tlc_analytics_pipeline_spark.streaming.events import (
    hourly_type_counts_stream,
    read_event_stream,
    run_to_memory_sink,
    session_windows_stream,
    sliding_value_stream,
)

from .conftest import SF_SMOKE, forget_last_commit


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """events parquet re-written as a multi-file directory (micro-batches),
    with ts already normalized to TimestampType."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _batch_events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_hourly_tumbling_matches_batch(spark, stream_dir):
    stream = hourly_type_counts_stream(read_event_stream(spark, stream_dir))
    assert stream.isStreaming
    run_to_memory_sink(stream, "hourly_counts", output_mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.table("hourly_counts").collect()
    }
    from pyspark.sql import functions as F

    expected = {
        (r.ws, r.event_type): (r.n, round(r.v, 6))
        for r in _batch_events(spark)
        .groupBy(F.window("ts", "1 hour").getField("start").alias("ws"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert got == expected


def test_sliding_windows_cover_each_event_four_times(spark, stream_dir):
    stream = sliding_value_stream(read_event_stream(spark, stream_dir))
    run_to_memory_sink(stream, "sliding_value", output_mode="complete")
    rows = spark.table("sliding_value").collect()
    n_events_total = _batch_events(spark).count()
    # 1h window / 15min slide → every event in exactly 4 windows
    assert sum(r.n_events for r in rows) == 4 * n_events_total


def test_session_windows_match_batch_sessionization(spark, stream_dir):
    stream = session_windows_stream(read_event_stream(spark, stream_dir))
    run_to_memory_sink(stream, "sessions", output_mode="complete")
    streamed = (
        spark.table("sessions")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n_sessions")
    )
    got = {r.user_id: r.n_sessions for r in streamed.collect()}
    # batch q19 computes sessions-per-user with the same 30-min gap
    from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES

    expected = {
        r.user_id: r.n_sessions
        for r in QUERIES["q19_sessionization"].build(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_parquet_sink_checkpoint_exactly_once(spark, stream_dir, tmp_path):
    """Running the same checkpointed stream twice must not duplicate any
    output (offsets are committed; the second run sees no new data), and
    new data arriving between runs is picked up incrementally."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.streaming.events import run_to_parquet_sink

    out = str(tmp_path / "agg_out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = hourly_type_counts_stream(read_event_stream(spark, stream_dir))
        run_to_parquet_sink(stream, out, ckpt)

    run()
    first = spark.read.parquet(out).agg(F.sum("n_events")).collect()[0][0]
    run()  # replay: nothing new → no duplicates
    second = spark.read.parquet(out).agg(F.sum("n_events")).collect()[0][0]
    assert first == second
    # append a new late file → incremental pickup, counts grow
    extra = _batch_events(spark).limit(50)
    extra.write.mode("append").parquet(stream_dir)
    run()
    third = spark.read.parquet(out).agg(F.coalesce(F.sum("n_events"), F.lit(0))).collect()[0][0]
    assert third >= second  # strictly more once the late rows close windows
    spark.read.parquet(out)  # sink remains readable


def test_watermark_present_in_plans(spark, stream_dir):
    ev = read_event_stream(spark, stream_dir)
    for builder in (hourly_type_counts_stream, sliding_value_stream, session_windows_stream):
        plan = builder(ev)._jdf.queryExecution().analyzed().toString()
        assert "EventTimeWatermark" in plan


def test_stream_dedup_removes_replayed_files(spark, stream_dir, tmp_path):
    """A source directory containing every event TWICE (file replay, the
    at-least-once failure mode) drains to exactly-once output through
    dedup_stream; result equals batch distinct."""
    from nyc_tlc_analytics_pipeline_spark.streaming.events import dedup_stream

    dup_dir = str(tmp_path / "dup_events")
    base = _batch_events(spark)
    base.write.mode("overwrite").parquet(dup_dir)
    base.write.mode("append").parquet(dup_dir)  # the replay
    stream = dedup_stream(read_event_stream(spark, dup_dir))
    assert stream.isStreaming
    run_to_memory_sink(stream, "dedup_events", output_mode="append")
    got = spark.table("dedup_events")
    n_events = base.count()
    assert spark.read.parquet(dup_dir).count() == 2 * n_events
    assert got.count() == n_events
    assert got.select("event_id").distinct().count() == n_events


def test_stream_dedup_within_watermark_variant(spark, stream_dir):
    from nyc_tlc_analytics_pipeline_spark.streaming.events import dedup_stream

    stream = dedup_stream(
        read_event_stream(spark, stream_dir), within_watermark=True
    )
    assert stream.isStreaming
    run_to_memory_sink(stream, "dedup_events_ww", output_mode="append")
    got = spark.table("dedup_events_ww")
    assert got.count() == _batch_events(spark).count()


def test_stream_stream_join_matches_batch_range_join(spark, stream_dir):
    """The streaming purchase×error range join must produce exactly the
    batch range_join pairs once the bounded directory drains — the
    batch/streaming unification contract for the q39 semantics."""
    from nyc_tlc_analytics_pipeline_spark.operators.temporal import range_join
    from nyc_tlc_analytics_pipeline_spark.streaming.events import (
        purchase_error_join_stream,
    )

    stream = purchase_error_join_stream(read_event_stream(spark, stream_dir))
    assert stream.isStreaming
    run_to_memory_sink(stream, "pe_pairs", output_mode="append")
    got = {
        (r.user_id, r.p_ts, r.e_ts)
        for r in spark.table("pe_pairs").collect()
    }
    ev = _batch_events(spark)
    from pyspark.sql import functions as F

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("e_ts"), F.col("value").alias("err_value")
    )
    expected = {
        (r.user_id, r.p_ts, r.e_ts)
        for r in range_join(
            purchases, errors, "user_id", "p_ts", "e_ts", 3600
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_incremental_gold_matches_batch_and_is_exactly_once(spark, stream_dir, tmp_path):
    """Draining the events directory through the foreachBatch gold sink
    (micro-batches of a few files) must equal the one-shot batch
    aggregate, and a replay must change nothing — the streaming face of
    incremental.merge_partials."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.streaming.events import (
        read_event_stream,
        run_incremental_gold,
    )

    # private copy: the shared stream_dir fixture gains a late file in
    # the checkpoint test above, so its content is order-dependent
    src = str(tmp_path / "events_src")
    _batch_events(spark).repartition(4).write.mode("overwrite").parquet(src)
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")

    def to_partial(batch_df):
        return batch_df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    spec = {
        "n_events": "count",
        "total_value": "sum",
        "min_value": "min",
        "max_value": "max",
    }

    def run():
        run_incremental_gold(
            read_event_stream(spark, src, max_files_per_trigger=2),
            gold, ckpt, to_partial, ["event_type"], spec,
        )

    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    run()
    # each batch's commit expires the gold it replaced: one data
    # directory stands, and nothing besides it and the log is on disk
    dirs = ManifestTable(spark, gold).snapshot()["dirs"]
    assert len(dirs) == 1
    assert sorted(os.listdir(gold)) == ["_log", "data"]
    assert os.listdir(os.path.join(gold, "data")) == dirs
    got = {
        r.event_type: (r.n_events, round(r.total_value, 6),
                       round(r.min_value, 6), round(r.max_value, 6))
        for r in ManifestTable(spark, gold).read().collect()
    }
    expected = {
        r.event_type: (r.n_events, round(r.total_value, 6),
                       round(r.min_value, 6), round(r.max_value, 6))
        for r in to_partial(_batch_events(spark)).collect()
    }
    assert got == expected
    run()  # replay: checkpoint sees no new files -> gold unchanged
    again = {
        r.event_type: (r.n_events, round(r.total_value, 6),
                       round(r.min_value, 6), round(r.max_value, 6))
        for r in ManifestTable(spark, gold).read().collect()
    }
    assert again == expected
    # crash replay: with the last batch's checkpoint commit gone, the
    # re-run re-delivers that batch under the same id; its manifest tag
    # is already committed, so the merge is a no-op (foreachBatch is
    # at-least-once; the tag is what makes the merge exactly-once)
    mt = ManifestTable(spark, gold)
    v_before = mt.latest_version()
    committed = [e["tag"] for e in mt.history() if e.get("tag")]
    assert committed and all(t.startswith("batch-") for t in committed)
    n = forget_last_commit(ckpt)
    run()
    assert os.path.exists(os.path.join(ckpt, "commits", str(n)))  # re-delivered
    assert mt.latest_version() == v_before
    replayed = {
        r.event_type: (r.n_events, round(r.total_value, 6),
                       round(r.min_value, 6), round(r.max_value, 6))
        for r in mt.read().collect()
    }
    assert replayed == expected


def test_late_data_beyond_watermark_is_dropped(spark, tmp_path):
    """Watermark semantics made concrete: a second micro-batch whose
    events are older than (max event time − watermark) must NOT reopen
    closed windows in append mode — that state was dropped; bounded
    state is the contract that makes 100 TB/day streams feasible."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def mk_events(rows):
        return spark.createDataFrame(
            [(i, ts, 1, "click", 1.0, "{}") for i, ts in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    # batch 1: events at hours 0..5 → watermark advances to 5:00 − 2h = 3:00
    mk_events([base + dt.timedelta(hours=h) for h in range(6)]).coalesce(1)\
        .write.mode("overwrite").parquet(src)

    def drain():
        from nyc_tlc_analytics_pipeline_spark.streaming.events import (
            hourly_type_counts_stream,
            read_event_stream,
        )

        stream = hourly_type_counts_stream(
            read_event_stream(spark, src, max_files_per_trigger=1)
        )
        (
            stream.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()
    emitted_1 = {r.window_start for r in spark.read.parquet(out).collect()}
    # append mode only finalizes windows the watermark has passed
    assert base in emitted_1  # hour-0 window closed by the 5:00 max event

    # batch 2: a late event at hour 0 (3h behind the 3:00 watermark) plus
    # a fresh event advancing time; the hour-0 window must NOT re-emit
    mk_events(
        [base, base + dt.timedelta(hours=8)]
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    rows = spark.read.parquet(out).collect()
    hour0 = [r for r in rows if r.window_start == base]
    assert len(hour0) == 1 and hour0[0].n_events == 1  # late row dropped


def test_streaming_hll_sketch_matches_batch_sketch(spark, tmp_path):
    """Maintaining HLL partials through the foreachBatch incremental-gold
    sink (max-merge on (group, bucket)) yields EXACTLY the one-shot batch
    sketch — the mergeable-sketch contract carried into streaming: a
    100 TB telemetry pipeline keeps per-day cardinality sketches fresh
    without ever re-scanning history."""
    from nyc_tlc_analytics_pipeline_spark.operators.sketch import (
        hll_estimate,
        hll_partials,
    )
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable
    from nyc_tlc_analytics_pipeline_spark.streaming.events import (
        read_event_stream,
        run_incremental_gold,
    )

    src = str(tmp_path / "events_src")
    _batch_events(spark).repartition(4).write.mode("overwrite").parquet(src)
    gold = str(tmp_path / "hll_gold")
    ckpt = str(tmp_path / "hll_ckpt")

    run_incremental_gold(
        read_event_stream(spark, src, max_files_per_trigger=2),
        gold,
        ckpt,
        lambda batch_df: hll_partials(batch_df, "user_id", ["event_type"]),
        ["event_type", "bucket"],
        {"rho": "max"},
    )

    streamed = hll_estimate(
        ManifestTable(spark, gold).read(), ["event_type"]
    )
    batch = hll_estimate(
        hll_partials(_batch_events(spark), "user_id", ["event_type"]),
        ["event_type"],
    )
    got = {
        r.event_type: (r.n_buckets_used, round(r.hll_distinct, 9))
        for r in streamed.collect()
    }
    want = {
        r.event_type: (r.n_buckets_used, round(r.hll_distinct, 9))
        for r in batch.collect()
    }
    assert got == want and got


def test_streaming_bloom_decontamination_gate_matches_batch(spark, tmp_path):
    """A Bloom filter built batch-side from benchmark grams gates a
    DOCUMENT stream fully MAP-SIDE: each gram's k positions are checked
    with forall/array_contains against the set-bit array riding the
    plan as a literal (no state, no aggregation — append-mode safe).
    The streamed candidate set must equal the batch form and must be a
    SUPERSET of the exact contaminated set (never-false-negative) —
    the streaming face of the q91 prefilter for corpora that arrive
    continuously."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import decontam, sketch
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table_parallel

    docs = load_table_parallel(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    bench = docs.filter(col("doc_id") % 50 == 0)
    corpus = docs.filter(col("doc_id") % 50 != 0)
    src = str(tmp_path / "docs_src")
    corpus.repartition(3).write.mode("overwrite").parquet(src)

    grams = bench.select(
        F.explode(decontam.word_ngrams("text", 3)).alias("g")
    ).distinct()
    bloom = sketch.bloom_build(grams, "g", m=4096, k=3)
    set_bits = F.array(
        *[F.lit(r.pos) for r in sorted(bloom.collect(), key=lambda r: r.pos)]
    )

    def gate(df):
        pos = sketch.bloom_positions(col("g"), 4096, 3)
        hit = F.forall(pos, lambda p: F.array_contains(set_bits, p))
        return (
            df.select(
                "doc_id", F.explode(decontam.word_ngrams("text", 3)).alias("g")
            )
            .filter(hit)
            .select("doc_id")
            .dropDuplicates(["doc_id"])
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_to_memory_sink(gate(stream), "stream_contam_candidates")
    streamed = {r.doc_id for r in spark.table("stream_contam_candidates").collect()}

    batch = {r.doc_id for r in gate(corpus).collect()}
    assert streamed == batch and streamed
    # never-false-negative: every EXACTLY contaminated doc is flagged
    exact = {
        r.doc_id
        for r in corpus.select(
            "doc_id", F.explode(decontam.word_ngrams("text", 3)).alias("g")
        )
        .join(grams, "g")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert exact <= streamed


def test_streaming_drift_monitor_matches_batch_psi(spark, tmp_path):
    """Streaming PSI drift monitor: bucket counts are ADDITIVE partials,
    so run_incremental_gold maintains the current-era histogram across
    micro-batches and profile.psi_from_counts over the maintained gold
    must equal the one-shot batch computation — the streaming face of
    q123."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators import profile
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable
    from nyc_tlc_analytics_pipeline_spark.streaming.events import (
        read_event_stream,
        run_incremental_gold,
    )

    ev = _batch_events(spark)
    split = ev.agg(F.min("ts")).head()[0]
    import datetime

    split = split + datetime.timedelta(hours=1)
    ref = ev.filter(F.col("ts") < split)
    cur = ev.filter(F.col("ts") >= split)
    assert ref.count() > 0 and cur.count() > 0

    src = str(tmp_path / "cur_src")
    cur.repartition(5).write.mode("overwrite").parquet(src)
    gold, ckpt = str(tmp_path / "gold"), str(tmp_path / "ckpt")

    def to_partial(batch_df):
        return profile.value_bucket_counts(
            batch_df, "value", "event_type", 0.0, 50.0, 10
        )

    run_incremental_gold(
        read_event_stream(spark, src, max_files_per_trigger=2),
        gold, ckpt, to_partial, ["grp", "bucket"], {"c": "sum"},
    )

    ref_counts = profile.value_bucket_counts(ref, "value", "event_type", 0.0, 50.0, 10)
    got = {
        r.grp: (r.n_ref, r.n_cur, r.psi, r.drifted)
        for r in profile.psi_from_counts(
            ManifestTable(spark, gold).read(), ref_counts
        ).collect()
    }
    want = {
        r.grp: (r.n_ref, r.n_cur, r.psi, r.drifted)
        for r in profile.psi_from_counts(
            profile.value_bucket_counts(cur, "value", "event_type", 0.0, 50.0, 10),
            ref_counts,
        ).collect()
    }
    assert got == want and len(got) > 0
