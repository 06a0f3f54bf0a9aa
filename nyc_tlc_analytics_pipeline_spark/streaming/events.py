"""Structured Streaming over the events stream.

The reference is batch-only (SURVEY §2.10 — its only incremental notion is
the monthly file cadence), so this module is the §7 extension surface:
the same event-table semantics exercised by the batch catalog queries
(q02/q19/q20), expressed as streaming plans with watermarks.

Design:

- Source: a parquet *directory* read as a stream (``readStream.schema(...)
  .parquet``) — the idiomatic file-based streaming source; in production
  this is Kafka with the identical downstream plan.
- Late data: every aggregation carries a watermark; state for windows
  older than the watermark is dropped — this is what bounds state size at
  100 TB/day event volumes.
- Sessionization: ``session_window`` (gap-based) — the streaming
  equivalent of the batch lag+running-sum plan in catalog q19.
- Sinks in tests use ``format("memory")`` + ``trigger(availableNow=True)``
  so a bounded directory drains deterministically.
- Side-effecting sinks — the incremental gold here, the near-dup and
  curation ingests in ``near_dup.py`` and ``curate.py`` — all run on
  :func:`for_each_batch`, which states their exactly-once rule.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..core.pins import releasing

EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-based event stream with an explicit schema (streaming sources
    cannot infer)."""
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def hourly_type_counts_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windows per event type (streaming form of catalog
    q20).  Watermarked so window state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_value_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping
    windows — demand-trend smoothing."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )


def session_windows_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user — the streaming equivalent of
    the batch sessionization in catalog q19 (30-minute inactivity gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming deduplication on ``keys`` (default: event_id) — the
    exactly-once ingest primitive for at-least-once sources (Kafka
    redeliveries, file replays).

    State shape is the 100 TB concern: plain ``dropDuplicates`` keeps one
    state row PER KEY FOREVER unless the event-time column is part of the
    key (it is here via the watermark column), which lets Spark expire
    state older than the watermark.  ``within_watermark=True`` switches to
    ``dropDuplicatesWithinWatermark`` — duplicates are only suppressed if
    they arrive within the watermark delay of the first sighting, which
    drops state aggressively and matches the "redeliveries come seconds
    apart, not days" reality of queue retries."""
    keyed = events.withWatermark("ts", watermark)
    cols = keys or ["event_id"]
    if within_watermark:
        return keyed.dropDuplicatesWithinWatermark(cols)
    # include the event-time column so expired windows free their state
    return keyed.dropDuplicates([*cols, "ts"])


def purchase_error_join_stream(
    events: DataFrame,
    window_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER join: each purchase paired with the same
    user's error events within ±``window_seconds`` — the streaming form
    of the batch range join in catalog q39.

    State-boundedness is the whole design: BOTH sides carry watermarks
    and the join condition bounds event-time distance, so Spark can
    discard buffered rows once the other side's watermark passes the
    window — without the time bound a stream-stream join must buffer one
    side forever.  The equality key (user_id) makes it a shuffled
    symmetric hash join on the key, the same partitioning contract as
    the batch plan."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event_id"),
        )
        .withWatermark("p_ts", watermark)
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("e_ts"),
            F.col("value").alias("err_value"),
        )
        .withWatermark("e_ts", watermark)
    )
    cond = (
        (purchases["user_id"] == errors["e_user_id"])
        & (
            errors["e_ts"]
            >= purchases["p_ts"] - F.expr(f"INTERVAL {window_seconds} SECONDS")
        )
        & (
            errors["e_ts"]
            <= purchases["p_ts"] + F.expr(f"INTERVAL {window_seconds} SECONDS")
        )
    )
    return purchases.join(errors, cond).select(
        "user_id", "p_ts", "p_event_id", "e_ts", "err_value"
    )


def run_to_parquet_sink(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
) -> None:
    """Fault-tolerant file sink: append-mode parquet with a checkpoint dir.
    The checkpoint's offset log + the sink's file manifest give
    end-to-end exactly-once for file sources → file sinks: re-running
    after completion (or a crash) replays nothing and duplicates
    nothing."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory_sink(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> None:
    """Drain a bounded stream into an in-memory table (test/dev sink):
    processes everything available, then stops."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def for_each_batch(
    stream: DataFrame,
    checkpoint_path: str,
    fn: Callable[[DataFrame, str, int], None],
) -> None:
    """Drain ``stream`` (availableNow) through ``fn(batch_df, tag,
    batch_id)``, once per non-empty micro-batch; ``tag`` is
    ``batch-<20-digit id>``.  Pins (core.pins) are released after each
    batch, so a long-running query never accumulates one cache-entry set
    per batch.

    The exactly-once rule of every face built on it: foreachBatch is
    only at-least-once for side effects — a crash between a batch's
    writes and the checkpoint commit re-delivers the batch with the same
    id.  So ``fn`` writes only ``ManifestTable`` commits under ``tag``
    (a replay finds its tag committed and the append is a no-op), and
    whatever it reads back from its own stores is the rows of strictly
    EARLIER batches: a replay that finds some tables committed and
    others not classifies exactly as the first attempt did and commits
    only what that attempt left missing."""

    @releasing
    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            fn(batch_df, f"batch-{batch_id:020d}", batch_id)

    (
        stream.writeStream.outputMode("append")
        .foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_incremental_gold(
    raw_stream: DataFrame,
    gold_path: str,
    checkpoint_path: str,
    to_partial,
    keys: list[str],
    merge_spec: dict[str, str],
) -> None:
    """:func:`for_each_batch` sink that maintains a PARTIAL-form gold
    aggregate incrementally: each raw micro-batch is aggregated to the
    gold shape INSIDE the sink (``to_partial(batch_df)`` — additive
    components only, the ``operators.incremental`` contract) and merged
    into the stored gold by key, never re-scanning event history.
    Aggregating inside the sink — rather than streaming an update-mode
    aggregate in — matters: update-mode emits CUMULATIVE per-key rows,
    which a sum merge would double-count.

    This is the streaming face of ``incremental.merge_partials``: batch
    backfill and streaming refresh produce identical gold because both
    are the same associative merge.  The gold store is a
    ``sources.manifest.ManifestTable``; each batch's merge commits one
    version under the batch tag, so a replayed batch finds its tag and
    is a no-op; each commit expires the version it replaced, so the
    store holds one copy of the gold.  A crash mid-write leaves an
    uncommitted staging dir (invisible; vacuumable) with the previous
    snapshot intact — a plain ``mode("overwrite")`` parquet gold would
    instead delete history before writing and a mid-write crash would
    destroy it.  Readers use ``ManifestTable(spark, gold_path).read()``.

    Scale: merge cost per batch is |gold keys| + |batch keys| rows — the
    key space, not the fact history; with gold bucketed by key this is a
    map-side merge."""
    from ..operators.incremental import merge_partials
    from ..sources.manifest import ManifestTable

    spark = raw_stream.sparkSession

    def merge_batch(batch_df: DataFrame, tag: str, batch_id: int) -> None:
        mt = ManifestTable(spark, gold_path)
        snap = mt.snapshot()
        if tag in snap["tags"]:
            return  # replayed batch: already merged into a committed gold
        partial = to_partial(batch_df)
        if snap["dirs"]:
            gold = mt.read(version=snap["version"])
            merged = merge_partials([gold, partial], keys, merge_spec)
        else:
            merged = merge_partials([partial], keys, merge_spec)
        # overwrite stages into a FRESH data dir before committing, so
        # the read above keeps its (still-committed) input dirs — no
        # driver-side materialization needed; the replaced gold is then
        # deleted, so the table keeps one data directory.  A crash
        # between the two leaves the old directory to the next batch's
        # expire (a replay stops at the tag check above)
        mt.expire(mt.overwrite(merged, tag=tag))

    for_each_batch(raw_stream, checkpoint_path, merge_batch)
