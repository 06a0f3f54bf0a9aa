"""core.pins — the one shared-frame pin idiom (VERDICT r13 items 3/4):
pin() is a LAZY persist (plan-only builders stay plan-only), release
drops every cache entry the calling thread registered, and the
job-shaped callers (CurateJob stages, streaming foreachBatch, sweep)
actually release."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession, functions as F

from nyc_tlc_analytics_pipeline_spark.core.pins import (
    pin,
    pinned_count,
    release_pins,
    releasing,
)


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


def test_pin_is_lazy_and_released(spark):
    release_pins()  # isolate from other tests' leftovers
    sc = spark.sparkContext
    sc.setJobGroup("pin-build", "pin() must not run jobs")
    try:
        df = pin(spark.range(1000).select((F.col("id") * 2).alias("x")))
        assert sc.statusTracker().getJobIdsForGroup("pin-build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert pinned_count() == 1
    assert df.count() == 1000  # first action materializes the cache
    assert df.storageLevel.useMemory
    assert release_pins() == 1
    assert pinned_count() == 0
    assert not df.storageLevel.useMemory  # unpersisted


def test_release_survives_consumers(spark):
    """Release only drops cache — lineage recomputes, values identical."""
    df = pin(spark.range(100).select((F.col("id") % 7).alias("m")))
    before = df.groupBy("m").count().collect()
    release_pins()
    after = df.groupBy("m").count().collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_release_drops_only_the_calling_threads_pins(spark):
    """A pin belongs to the thread that made it: another thread's
    release (a stage ending beside a running query) leaves it cached."""
    import threading

    release_pins()
    df = pin(spark.range(500).select((F.col("id") * 3).alias("x")))
    assert df.count() == 500
    released = []
    other = threading.Thread(target=lambda: released.append(release_pins()))
    other.start()
    other.join()
    assert released == [0]
    assert df.storageLevel.useMemory  # still cached
    assert pinned_count() == 1
    assert release_pins() == 1
    assert not df.storageLevel.useMemory


def test_releasing_decorator_releases_on_error(spark):
    @releasing
    def boom(df):
        pin(df)
        raise RuntimeError("stage failed")

    with pytest.raises(RuntimeError):
        boom(spark.range(10))
    assert pinned_count() == 0


def test_funnel_pins_released_by_curate_stage_boundary(spark, tmp_path):
    """incremental_gate_attribution pins gated/scored/kept; a job-shaped
    caller that wraps the consuming action in releasing() ends with zero
    registered pins (the ADVICE r13 accumulation scenario)."""
    from nyc_tlc_analytics_pipeline_spark.operators import curation

    release_pins()
    docs = spark.createDataFrame(
        [
            (i, "web", "en", "the quick brown fox jumps over the lazy dog "
             "while the rain in spain falls mainly on the plain " * 3)
            for i in range(8)
        ],
        "doc_id long, source string, lang string, text string",
    )
    standing = docs.filter(F.col("doc_id") < 4).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") >= 4)

    @releasing
    def run_stage():
        attr, classified = curation.incremental_gate_attribution(
            batch, standing, ppl_cutoff=50.0
        )
        assert pinned_count() >= 3  # gated, scored, kept
        return attr.count(), classified.count()

    n_attr, _ = run_stage()
    assert n_attr == 4
    assert pinned_count() == 0
