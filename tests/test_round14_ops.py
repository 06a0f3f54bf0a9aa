"""Increment-store commit order and standing-index tests:

1. ``IncrementStore.commit`` appends a batch's band and segment slices
   before its docs, and a batch stands only once its docs commit
   exists: a crash between the two leaves slices no later batch sees,
   and resuming the tag commits the docs alone — one copy of each.
2. ``run_incremental`` refuses a base run without persisted ``index/``
   artifacts (there is no index-less path).
3. `incremental_segment_classify` must emit exactly ONE row per batch
   segment occurrence even when the standing index holds the same hash
   in several per-increment slices, on BOTH the small-batch broadcast
   path and the big-batch join path.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql.functions import col


def _mk_batch(spark, tmp_path, name, rows):
    p = str(tmp_path / name)
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    ).write.parquet(p)
    return p


def _splice(standing_rows, a, b, c):
    # same off-grid splice recipe as test_round13_ops: in-model tokens,
    # sub-threshold overlap with any single parent, off the 8-token
    # segment grid
    return " ".join(
        standing_rows[a]["text"].split()[3:23]
        + standing_rows[b]["text"].split()[23:43]
        + standing_rows[c]["text"].split()[3:23]
    )


def test_failed_docs_commit_is_invisible_and_resumes_once(
    spark, tmp_path, curate_job_copy, monkeypatch
):
    """b1's docs append fails after its slices committed.  b2, repeating
    b1's doc, classifies against base only (b1's slices are not
    standing), so the doc is kept whole; resuming b1 then commits its
    docs, and each table holds exactly one commit of b1's rows."""
    from nyc_tlc_analytics_pipeline_spark.core.journal import StageFailed
    from nyc_tlc_analytics_pipeline_spark.curate import IncrementStore
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable

    job = curate_job_copy  # completed base run (session fixture copy)
    store = IncrementStore(spark, job.out_dir, job.path("increments"))
    standing_rows = (
        spark.read.parquet(job.path("final")).orderBy("doc_id").limit(8)
        .collect()
    )
    novel1 = _splice(standing_rows, 2, 3, 4)
    b1 = _mk_batch(spark, tmp_path, "b1.parquet",
                   [(910001, "web", "en", novel1)])

    append = ManifestTable.append

    def docs_append_fails(table, df, tag=None):
        if table.path == store.docs.path:
            raise RuntimeError("killed before the docs commit")
        return append(table, df, tag)

    monkeypatch.setattr(ManifestTable, "append", docs_append_fails)
    with pytest.raises(StageFailed, match="inc_append"):
        job.run_incremental(b1, batch_tag="b1", retries=0)
    monkeypatch.undo()
    assert "b1" in store.bands.snapshot()["tags"]
    assert "b1" in store.segments.snapshot()["tags"]
    assert "b1" not in store.docs.snapshot()["tags"]

    _, _, bands, segs = store.standing("b2")
    assert bands.filter(col("doc") == 910001).count() == 0
    assert segs.filter(col("first_doc") == 910001).count() == 0
    b2 = _mk_batch(spark, tmp_path, "b2.parquet",
                   [(920001, "web", "en", novel1)])
    s2 = job.run_incremental(b2, batch_tag="b2")
    assert s2["gate"].get("kept", 0) == 1
    assert s2["appended"]["n_docs_appended"] == 1
    assert store.batch(store.docs, "b2").head()["text"] == novel1

    s1 = job.run_incremental(b1, batch_tag="b1")  # resumes at inc_append
    assert s1["appended"]["n_docs_appended"] == 1
    for table in (store.docs, store.bands, store.segments):
        assert [e.get("tag") for e in table.history()].count("b1") == 1
        rows = store.batch(table, "b1")
        assert 0 < rows.count() == rows.distinct().count()
    assert store.batch(store.docs, "b1").head()["doc_id"] == 910001


def test_run_incremental_needs_indexed_base_run(spark, tmp_path, curate_job_copy):
    job = curate_job_copy
    shutil.rmtree(job.path("index"))
    b1 = _mk_batch(spark, tmp_path, "b1.parquet",
                   [(910001, "web", "en", "alpha bravo charlie")])
    with pytest.raises(ValueError, match="no persisted index"):
        job.run_incremental(b1, batch_tag="b1")


def test_segment_classify_one_row_per_occurrence_both_paths(spark):
    """Duplicate the index's hashes across 'slices' (union of the base
    index with itself): both join paths must still emit exactly one row
    per batch segment occurrence, with identical statuses."""
    from nyc_tlc_analytics_pipeline_spark.operators import dedup

    words = ("alpha bravo charlie delta echo foxtrot golf hotel "
             "india juliet kilo lima mike november oscar papa")
    standing = spark.createDataFrame(
        [(1, "en", words)], "doc_id long, lang string, text string"
    )
    batch = spark.createDataFrame(
        [(10, "en", words), (11, "en", words + " " + words)],
        "doc_id long, lang string, text string",
    )
    idx = dedup.segment_index_table(standing, "doc_id", "text", 8)
    doubled = idx.unionByName(idx)  # same hash in two "slices"

    def rows(small):
        return sorted(
            (r["doc_id"], r["seg_idx"], r["status"])
            for r in dedup.incremental_segment_classify(
                batch, doubled, "doc_id", "text", 8, small_batch=small
            ).collect()
        )

    big, small = rows(False), rows(True)
    assert big == small
    # doc 10: two 8-token segments, both already in the corpus — ONE
    # row each; doc 11: four segments, all dup (vs corpus)
    n_segs = {10: 2, 11: 4}
    from collections import Counter

    counts = Counter((d for d, _, _ in big))
    assert dict(counts) == n_segs
    assert all(s == "dup_vs_corpus" for _, _, s in big)
