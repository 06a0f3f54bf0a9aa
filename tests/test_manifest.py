"""Manifest-committed table: snapshot isolation, idempotent tags, and the
concurrent-writer races that the plain partition-overwrite sink cannot
survive (ADVICE r2: shared FileOutputCommitter staging dir)."""

from __future__ import annotations

import json
import os

import pytest

from nyc_tlc_analytics_pipeline_spark.sources.manifest import (
    CommitConflict,
    ManifestTable,
)


def _df(spark, lo, hi, src):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .withColumnRenamed("id", "k")
        .withColumn("src", F.lit(src))
    )


def test_append_and_read(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    assert t.append(_df(spark, 0, 5, "a"), tag="a") == 1
    assert t.append(_df(spark, 5, 8, "b"), tag="b") == 2
    got = t.read()
    assert got.count() == 8
    assert {r["src"] for r in got.select("src").distinct().collect()} == {"a", "b"}


def test_idempotent_tag_skips(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    assert t.append(_df(spark, 0, 5, "a"), tag="f1.parquet") == 1
    assert t.append(_df(spark, 0, 5, "a"), tag="f1.parquet") is None
    assert t.read().count() == 5
    assert t.latest_version() == 1


def test_overwrite_resets_snapshot(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, "a"), tag="a")
    t.overwrite(_df(spark, 100, 103, "rebuild"))
    got = t.read()
    assert got.count() == 3
    assert {r["src"] for r in got.collect()} == {"rebuild"}


def test_time_travel(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, "a"), tag="a")
    t.append(_df(spark, 5, 8, "b"), tag="b")
    t.overwrite(_df(spark, 0, 1, "c"))
    assert t.read(version=1).count() == 5
    assert t.read(version=2).count() == 8
    assert t.read().count() == 1


def test_uncommitted_data_is_invisible(spark, tmp_path):
    """A crashed writer = staged dir with no log entry: readers never see
    it, and vacuum removes it without touching live data."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, "a"), tag="a")
    # simulate a writer that died after staging, before commit
    orphan = t._stage(_df(spark, 1000, 2000, "crashed"))
    assert t.read().count() == 5  # invisible
    removed = t.vacuum()
    assert removed == [orphan]
    assert t.read().count() == 5
    assert not os.path.isdir(os.path.join(t.data_dir, orphan))


def test_concurrent_append_race_both_commit(spark, tmp_path):
    """Two writers race for the same version: the loser must retry at the
    next version and BOTH rows sets end up committed — the exact scenario
    that corrupts the bare partition-overwrite sink."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 2, "base"), tag="base")

    real_link = os.link
    interleaved = {"done": False}

    def racing_link(src, dst):
        # writer B commits version 2 in the window after writer A read the
        # log (deciding on version 2) and before A publishes
        if not interleaved["done"]:
            interleaved["done"] = True
            t2 = ManifestTable(spark, str(tmp_path / "t"))
            assert t2.append(_df(spark, 100, 105, "writerB"), tag="B") == 2
        return real_link(src, dst)

    os.link = racing_link
    try:
        v = t.append(_df(spark, 200, 203, "writerA"), tag="A")
    finally:
        os.link = real_link
    assert v == 3  # lost the race at 2, retried, won 3
    got = t.read()
    assert got.count() == 2 + 5 + 3
    assert {r["src"] for r in got.select("src").distinct().collect()} == {
        "base",
        "writerB",
        "writerA",
    }


def test_concurrent_same_tag_race_single_commit(spark, tmp_path):
    """Two concurrent loads of the SAME source file: the race loser must
    detect the winner's tag on retry and skip — exactly-once load without
    any lock."""
    t = ManifestTable(spark, str(tmp_path / "t"))

    real_link = os.link
    interleaved = {"done": False}

    def racing_link(src, dst):
        if not interleaved["done"]:
            interleaved["done"] = True
            t2 = ManifestTable(spark, str(tmp_path / "t"))
            assert t2.append(_df(spark, 0, 5, "winner"), tag="same.parquet") == 1
        return real_link(src, dst)

    os.link = racing_link
    try:
        v = t.append(_df(spark, 0, 5, "loser"), tag="same.parquet")
    finally:
        os.link = real_link
    assert v is None  # skipped after losing the race
    got = t.read()
    assert got.count() == 5
    assert {r["src"] for r in got.collect()} == {"winner"}
    assert t.latest_version() == 1


def test_expire_races_concurrent_append_and_boundary_read(spark, tmp_path):
    """expire vs a concurrent append vs time-travel readers at the
    retention boundary (VERDICT r6 item 6).  Documented outcome: the
    APPEND wins the version race — expire's watermark entry retries
    above it (append v5, expire entry v6), its doomed set (computed
    before the race) never touches the racer's freshly staged dir, and
    the boundary snapshot (v3) survives while sub-watermark reads fail
    only AFTER the watermark publishes: both mid-race reads succeed."""
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a"), tag="a")        # v1 (10 rows)
    t.append(_df(spark, 10, 20, "b"), tag="b")       # v2 (10 rows)
    t.overwrite(_df(spark, 100, 103, "c"))           # v3 (3 rows) — frees a+b
    t.append(_df(spark, 200, 204, "d"), tag="d")     # v4 (4 rows)

    real_link = os.link
    mid = {}

    def racing_link(src, dst):
        # fires on expire's FIRST publish attempt (v5): land an append
        # and run both time-travel reads inside the window where the
        # doomed set is computed but the watermark is not yet committed
        if not mid and dst.endswith("00000000000000000005.json"):
            mid["done"] = True
            t2 = ManifestTable(spark, str(tmp_path / "t"))
            mid["append_v"] = t2.append(_df(spark, 300, 302, "racer"), tag="r")
            mid["read_boundary"] = t2.read(3).count()   # at the watermark
            mid["read_below"] = t2.read(2).count()      # below, pre-publish
        return real_link(src, dst)

    os.link = racing_link
    try:
        res = t.expire(3)
    finally:
        os.link = real_link

    # the append won version 5; expire retried and published at 6
    assert mid["append_v"] == 5
    assert res["expired_before"] == 3
    hist = t.history()
    assert hist[-1]["action"] == "expire" and hist[-1]["version"] == 6
    assert hist[-1]["parent"] == 5
    # mid-race reads: both succeeded (watermark not yet published, data
    # not yet deleted)
    assert mid["read_boundary"] == 3
    assert mid["read_below"] == 20
    # post-race: the boundary snapshot survives, below-watermark is gone
    assert t.read(3).count() == 3
    with pytest.raises(ValueError, match="expired"):
        t.read(2)
    # only the dirs referenced exclusively below the watermark died; the
    # racer's dir (staged during the race) was never in the doomed set
    assert sorted(res["removed_dirs"]) == sorted(
        t.entry(1)["dirs"] + t.entry(2)["dirs"]
    )
    assert t.read().count() == 3 + 4 + 2  # c + d + racer
    assert {r["src"] for r in t.read().select("src").distinct().collect()} == {
        "c", "d", "racer",
    }
    # checkpoint interaction: expire checkpointed the post-race head; a
    # FRESH replay (new table object) agrees with the incremental state
    cp = os.path.join(t.log_dir, "00000000000000000006.checkpoint.json")
    assert os.path.exists(cp)
    t3 = ManifestTable(spark, str(tmp_path / "t"))
    snap = t3.snapshot()
    assert snap["expired_before"] == 3 and snap["version"] == 6
    assert t3.read(3).count() == 3


def test_commit_conflict_exhausts(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 2, "a"), tag="a")

    real_link = os.link

    def always_lose(src, dst):
        raise FileExistsError(dst)

    os.link = always_lose
    try:
        with pytest.raises(CommitConflict):
            t._publish({"action": "append", "dirs": ["x"], "tag": "b"}, max_retries=3)
    finally:
        os.link = real_link


def test_log_entries_are_wellformed(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 2, "a"), tag="a")
    t.overwrite(_df(spark, 0, 1, "b"))
    h = t.history()
    assert [e["version"] for e in h] == [1, 2]
    assert [e["parent"] for e in h] == [0, 1]
    assert h[0]["action"] == "append" and h[1]["action"] == "overwrite"
    # every log file is valid standalone JSON (external tools can tail it)
    for name in sorted(os.listdir(t.log_dir)):
        with open(os.path.join(t.log_dir, name)) as f:
            json.load(f)


def test_write_corpus_shards_layout(spark, tmp_path):
    """Shard writer: pruned directory layout, bounded shard files,
    deterministic within-shard order."""
    import os

    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.sources.sinks import write_corpus_shards

    df = (
        spark.range(1000)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 10 < 8, "train").otherwise("val").alias("split"),
            F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
            F.concat(F.lit("text-"), F.col("id")).alias("text"),
        )
    )
    out = str(tmp_path / "shards")
    write_corpus_shards(df, out, max_records_per_file=100)
    # layout: split=*/lang=* directories (ignore checksum/.crc files)
    vis = lambda d: sorted(n for n in os.listdir(d) if not n.startswith("."))
    assert vis(out) == ["_SUCCESS", "split=train", "split=val"]
    assert vis(os.path.join(out, "split=train")) == ["lang=de", "lang=en"]
    # every shard file respects the record bound
    back = spark.read.parquet(out)
    assert back.count() == 1000
    per_file = back.groupBy(F.input_file_name()).count().collect()
    assert all(r["count"] <= 100 for r in per_file)
    # within-shard order is ascending doc_id (deterministic content)
    one = spark.read.parquet(
        os.path.join(out, "split=train", "lang=en")
    ).limit(100)
    ids = [r["doc_id"] for r in one.collect()]
    assert ids == sorted(ids)
    # partition pruning works
    assert spark.read.parquet(out).filter("split = 'val'").count() == 200


def test_compact_merges_files_preserves_rows_and_tags(spark, tmp_path):
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, str(tmp_path / "t"))
    for i in range(4):
        mt.append(
            spark.range(i * 10, (i + 1) * 10).toDF("id"), tag=f"file-{i}"
        )
    before = sorted(r.id for r in mt.read().collect())
    pre_version = mt.latest_version()
    v = mt.compact(target_partitions=1)
    assert v == pre_version + 1
    snap = mt.snapshot()
    assert len(snap["dirs"]) == 1  # 4 append dirs -> 1 compacted dir
    assert sorted(r.id for r in mt.read().collect()) == before
    # idempotency tags survive the keep-tags overwrite: a replayed
    # source-file load must STILL be refused
    assert mt.append(spark.range(5).toDF("id"), tag="file-2") is None
    # time travel to the pre-compact snapshot still works
    assert sorted(r.id for r in mt.read(pre_version).collect()) == before


def test_compact_keeps_partition_layout(spark, tmp_path):
    """A partitioned table keeps its layout through an append and a
    compact: one directory per partition value, pruned at planning."""
    import re

    from pyspark.sql import functions as F

    mt = ManifestTable(spark, str(tmp_path / "t"))
    df = spark.range(40).select(
        "id", (F.col("id") % 2).cast("string").alias("a"), (F.col("id") % 5).alias("b")
    )
    mt.overwrite(df, partition_by=("a", "b"))
    mt.append(df)
    assert mt.read().count() == 80
    assert mt.compact(target_partitions=2) is not None
    (d,) = mt.snapshot()["dirs"]
    assert sorted(n for n in os.listdir(os.path.join(mt.data_dir, d)) if "=" in n) == ["a=0", "a=1"]
    assert mt.snapshot()["partition_by"] == ["a", "b"]
    q = mt.read().filter("a = '1' AND b = 3")
    assert q.columns == ["id", "a", "b"]
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert re.search(r"\ba#\d+", pf) and re.search(r"\bb#\d+", pf), pf
    assert sorted(r.id for r in q.collect()) == [3, 3, 13, 13, 23, 23, 33, 33]


def test_compact_cas_aborts_instead_of_dropping_concurrent_append(
    spark, tmp_path
):
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.append(spark.range(10).toDF("id"), tag="a")
    # simulate a writer landing between the compactor's snapshot and its
    # publish: stage + CAS-publish against a STALE parent version
    stale = mt.snapshot()["version"]
    mt.append(spark.range(10, 20).toDF("id"), tag="b")  # concurrent writer
    staged = mt._stage(mt.read(stale).repartition(1))
    v = mt._publish(
        {
            "action": "overwrite",
            "dirs": [staged],
            "tag": f"compact-v{stale}",
            "keep_tags": True,
            "expect_parent": stale,
        }
    )
    assert v is None  # CAS refused — the concurrent append survives
    assert sorted(r.id for r in mt.read().collect()) == list(range(20))
    # a fresh compact against the CURRENT version succeeds and keeps all
    assert mt.compact(target_partitions=1) is not None
    assert sorted(r.id for r in mt.read().collect()) == list(range(20))


def test_checkpoint_snapshot_equals_full_replay(spark, tmp_path):
    import json
    import os

    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.append(spark.range(5).toDF("id"), tag="f0")
    mt.append(spark.range(5, 10).toDF("id"), tag="f1")
    full = mt.snapshot()
    assert mt.write_checkpoint() == full["version"]
    # re-checkpointing the same version is a no-op
    assert mt.write_checkpoint() is None
    # checkpointed read == full replay, byte for byte
    assert mt.snapshot() == full
    # later commits replay ON TOP of the checkpoint
    mt.append(spark.range(10, 15).toDF("id"), tag="f2")
    assert sorted(r.id for r in mt.read().collect()) == list(range(15))
    # time travel BELOW the checkpoint still full-replays correctly
    assert sorted(r.id for r in mt.read(1).collect()) == list(range(5))
    # tag idempotency flows through the checkpointed state
    assert mt.append(spark.range(3).toDF("id"), tag="f0") is None
    # the checkpoint file is a real materialized state, not a marker
    cp = os.path.join(
        mt.log_dir, f"{full['version']:020d}.checkpoint.json"
    )
    assert json.load(open(cp))["dirs"] == full["dirs"]


def test_compact_writes_a_checkpoint(spark, tmp_path):
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, str(tmp_path / "t"))
    for i in range(3):
        mt.append(spark.range(i * 4, (i + 1) * 4).toDF("id"), tag=f"f{i}")
    v = mt.compact(target_partitions=1)
    assert v is not None
    assert mt._checkpoints() == [v]
    # reads start from the 1-dir checkpoint, no replay of the 3 appends
    assert sorted(r.id for r in mt.read().collect()) == list(range(12))
    # and tags still survive through checkpoint + compact
    assert mt.append(spark.range(2).toDF("id"), tag="f1") is None


def test_diff_change_feed_between_versions(spark, tmp_path):
    """CDF-style diff: full-row multiset mode reports inserts/deletes
    with counts; key mode reports an update as delete+insert."""
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, str(tmp_path / "t"))
    v1_df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b"), (3, "c")], "id long, val string"
    )
    v1 = mt.overwrite(v1_df)
    v2_df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "CHANGED"), (4, "d")], "id long, val string"
    )
    v2 = mt.overwrite(v2_df)

    rows = {(r.id, r.val, r._change): r._n for r in mt.diff(v1, v2).collect()}
    assert rows == {
        (2, "b", "deleted"): 1,       # one of the two dup rows went away
        (3, "c", "deleted"): 1,
        (3, "CHANGED", "inserted"): 1,
        (4, "d", "inserted"): 1,
    }
    # key mode: id=3 content changed -> updated (new row returned);
    # id=2 lost a duplicate copy -> its content multiset changed -> updated;
    # id=4 is new -> inserted
    by_key = {(r.id, r.val, r._change)
              for r in mt.diff(v1, v2, key_cols=["id"]).collect()}
    assert by_key == {
        (2, "b", "updated"),
        (3, "CHANGED", "updated"),
        (4, "d", "inserted"),
    }
    # key-mode delete: diff in the reverse direction
    rev = {(r.id, r._change) for r in mt.diff(v2, v1, key_cols=["id"]).collect()}
    assert (4, "deleted") in rev
    # no-op diff is empty
    assert mt.diff(v2, v2).count() == 0


def test_expire_reclaims_history_and_gates_time_travel(spark, tmp_path):
    import os

    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, str(tmp_path / "t"))
    one = spark.createDataFrame([(1,)], "id long")
    two = spark.createDataFrame([(2,)], "id long")
    v1 = mt.append(one, tag="f1")
    mt.overwrite(two)  # v1's dir now lives only in history
    three = spark.createDataFrame([(3,)], "id long")
    v3 = mt.append(three, tag="f3")
    assert sorted(r.id for r in mt.read().collect()) == [2, 3]

    n_dirs_before = len(os.listdir(mt.data_dir))
    out = mt.expire(before_version=v3)
    assert out["removed_dirs"], "the pre-overwrite dir must be reclaimed"
    assert len(os.listdir(mt.data_dir)) < n_dirs_before
    # current snapshot unaffected; idempotency tags survive expire
    # (the expire entry never touches tags)
    assert sorted(r.id for r in mt.read().collect()) == [2, 3]
    assert mt.append(three, tag="f3") is None  # tag still refuses a reload
    # time travel below the watermark is gone, with a clear error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expired"):
        mt.read(version=v1)
    # the watermark survives checkpoints and fresh handles
    mt.write_checkpoint()
    fresh = ManifestTable(spark, str(tmp_path / "t"))
    assert fresh.snapshot()["expired_before"] == v3
    with _pytest.raises(ValueError, match="expired"):
        fresh.snapshot(version=v1)
    # re-running expire is a no-op (idempotent)
    assert fresh.expire(before_version=v3)["removed_dirs"] == []


def test_expire_keeps_dirs_still_referenced_at_or_above_watermark(spark, tmp_path):
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.append(spark.createDataFrame([(1,)], "id long"))
    v2 = mt.append(spark.createDataFrame([(2,)], "id long"))
    # append-only history: v1's dir is still part of the HEAD snapshot,
    # so expiring below v2 must reclaim nothing and reads keep working
    out = mt.expire(before_version=v2)
    assert out["removed_dirs"] == []
    assert sorted(r.id for r in mt.read().collect()) == [1, 2]


def test_cli_expire_and_table_diff(spark, tmp_path, capsys):
    import json

    from nyc_tlc_analytics_pipeline_spark.cli import main
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    t = str(tmp_path / "t")
    mt = ManifestTable(spark, t)
    v1 = mt.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    v2 = mt.overwrite(
        spark.createDataFrame([(1, "b"), (2, "c")], "id long, v string")
    )
    wh = str(tmp_path / "wh")
    rc = main(["--warehouse-dir", wh, "table-diff", "--table", t,
               "--from-version", str(v1), "--to-version", str(v2),
               "--keys", "id"])
    rep = json.loads(capsys.readouterr().out)
    assert rc == 0 and rep["n_changes"] == 2
    changes = {(c["id"], c["_change"]) for c in rep["changes"]}
    assert changes == {(1, "updated"), (2, "inserted")}
    rc = main(["--warehouse-dir", wh, "expire", "--table", t,
               "--before-version", str(v2)])
    rep = json.loads(capsys.readouterr().out)
    assert rc == 0 and rep["expired_before"] == v2 and rep["removed_dirs"]


def test_diff_distinguishes_null_positions(spark, tmp_path):
    """concat_ws skips nulls — the fingerprint must not let
    (null, 'a') and ('a', null) collide."""
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, str(tmp_path / "t"))
    v1 = mt.overwrite(
        spark.createDataFrame([(1, None, "a")], "id long, x string, y string")
    )
    v2 = mt.overwrite(
        spark.createDataFrame([(1, "a", None)], "id long, x string, y string")
    )
    ch = {(r.x, r.y, r._change) for r in mt.diff(v1, v2).collect()}
    assert ch == {(None, "a", "deleted"), ("a", None, "inserted")}
    assert {(r.id, r._change) for r in mt.diff(v1, v2, key_cols=["id"]).collect()} == {
        (1, "updated")
    }


def _strip_schemas(t) -> None:
    """Rewrite the log as a writer that recorded no schema left it."""
    for name in os.listdir(t.log_dir):
        if name.endswith(".json"):
            path = os.path.join(t.log_dir, name)
            with open(path) as f:
                entry = json.load(f)
            entry.pop("schema", None)
            with open(path, "w") as f:
                json.dump(entry, f)


def test_entries_without_schema_still_read(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, "a"), tag="a")
    t.append(_df(spark, 5, 8, "b"), tag="b")
    want = t.read()
    _strip_schemas(t)
    assert t.snapshot()["schema"] is None
    got = t.read()
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_read_with_recorded_schema_runs_no_job(spark, tmp_path):
    from .conftest import spark_jobs

    t = ManifestTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, "a"), tag="a")
    with spark_jobs(spark) as ids:
        df = t.read()
    assert ids == []
    assert df.count() == 5
    _strip_schemas(t)  # the inferring path does run a job: the check can see one
    with spark_jobs(spark) as ids:
        t.read()
    assert ids


def test_time_travel_returns_that_versions_schema(spark, tmp_path):
    t = ManifestTable(spark, str(tmp_path / "t"))
    v1 = t.overwrite(spark.range(3).toDF("k"))
    v2 = t.overwrite(_df(spark, 0, 3, "a"))
    assert t.read(v1).columns == ["k"]
    assert t.read(v2).columns == ["k", "src"]
    assert t.snapshot(v1)["schema"] != t.snapshot(v2)["schema"]
    # entries that disagree on the schema leave it to inference
    t.append(spark.range(3).toDF("k"))
    assert t.snapshot()["schema"] is None
    assert t.read().count() == 6
