"""Round-13 operator tests: the multi-batch incremental-curation
contract (ADVICE r12 — the standing pool must fold in completed
increments, else batch 2 re-appends batch 1's novel content), the
pack_contiguous single-shuffle restructure, the video fake-path
contract, and q187's accounting conservation."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import col

from .conftest import SF_SMOKE


def _mk_batch(spark, tmp_path, name, rows):
    p = str(tmp_path / name)
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    ).write.parquet(p)
    return p


def test_curate_incremental_multi_batch(spark, tmp_path, curate_job_copy):
    """Batch 2 repeating batch 1's novel content must classify it
    duplicate_corpus (the standing pool now includes increment b1) and
    append nothing for it — the append-only-novel contract across
    increments; a genuinely new doc in batch 2 still lands."""
    job = curate_job_copy  # completed base run (session fixture copy)
    final = spark.read.parquet(job.path("final"))
    standing_rows = final.orderBy("doc_id").limit(8).collect()

    def splice(a, b, c):
        """In-model token transitions (passes the standing LM filter),
        3-gram shingle overlap with any single parent far below the 0.5
        near-dup threshold, and chunk offsets chosen OFF the 8-token
        segment grid so the segment-dedup stage keeps the doc intact
        (an aligned splice would be gutted to its splice-boundary
        segments and batch 2's repeat would no longer near-match)."""
        return " ".join(
            standing_rows[a]["text"].split()[3:23]
            + standing_rows[b]["text"].split()[23:43]
            + standing_rows[c]["text"].split()[3:23]
        )

    novel1 = splice(2, 3, 4)
    novel2 = splice(5, 6, 7)
    b1 = _mk_batch(
        spark, tmp_path, "b1.parquet", [(910001, "web", "en", novel1)]
    )
    s1 = job.run_incremental(b1, batch_tag="b1")
    assert s1["gate"].get("kept", 0) == 1
    assert s1["appended"]["n_docs_appended"] == 1

    # batch 2: novel1 AGAIN (new doc_id) + a genuinely new novel2
    b2 = _mk_batch(
        spark, tmp_path, "b2.parquet",
        [(920001, "web", "en", novel1), (920002, "web", "en", novel2)],
    )
    s2 = job.run_incremental(b2, batch_tag="b2")
    assert s2["gate"].get("duplicate_corpus", 0) == 1  # novel1 vs inc b1
    assert s2["gate"].get("kept", 0) == 1              # novel2
    inc2 = spark.read.parquet(job.path("increments/b2"))
    assert inc2.count() == 1
    assert inc2.head()["doc_id"] == 920002

    # idempotent re-run of b1 converges (its own increment is EXCLUDED
    # from the standing pool while re-classifying, so novel1 is still
    # 'kept' for b1, not a dup of itself)
    again = job.run_incremental(b1, batch_tag="b1")
    assert again["appended"] == s1["appended"]
    assert spark.read.parquet(job.path("increments/b1")).count() == 1


def test_pack_contiguous_single_range_shuffle(spark):
    """The two-pass packer's branch point is checkpointed: the executed
    plan must not contain two independent range-partitioning exchanges
    over the input (ADVICE r12 — correctness previously leaned on both
    shuffles sampling identical partition bounds)."""
    from nyc_tlc_analytics_pipeline_spark.operators import packing

    df = spark.range(2000).select(
        (col("id") % 7).alias("stream"),
        col("id").alias("ord"),
        (col("id") % 13 + 1).alias("toks"),
    )
    out = packing.pack_contiguous(df, "stream", "ord", "toks", budget=100)
    # correctness: contiguous non-overlapping offsets per stream
    rows = out.orderBy("stream", "ord").collect()
    seen: dict[int, int] = {}
    for r in rows:
        start = r["pack_id"] * 100 + r["pack_offset"]
        assert start == seen.get(r["stream"], 0)
        seen[r["stream"]] = start + r["toks"]
    # plan: the branch-point pin (core.pins, r14 — formerly a
    # localCheckpoint) collapses the branch point onto ONE cached range
    # shuffle; the plan text prints the cached plan (with its own
    # exchanges) beneath every InMemoryTableScan, so count range
    # exchanges OUTSIDE cached subtrees — the post-pin plan adds none
    from .plan_text import count_outside_cache

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert count_outside_cache(plan, "rangepartitioning") == 0
    assert plan.count("InMemoryTableScan") >= 2  # both consumers read it


def test_video_fake_contract_holds_with_codec(spark):
    """fake=True is a contract, not a fallback: even where imageio IS
    importable, fake payloads must take the deterministic digest path
    (ADVICE r12 — installing the media extra must not break callers)."""
    import hashlib

    from nyc_tlc_analytics_pipeline_spark.operators import multimodal as mm

    payload = b"not-a-real-video"
    orig = mm._IMAGEIO
    mm._IMAGEIO = object()  # simulate 'imageio importable'
    try:
        sample = mm.sample_video_frames_stub(every_ms=500, fake=True)
        import pandas as pd

        out = list(
            sample(
                iter(
                    [
                        pd.DataFrame(
                            {
                                "media_id": [1],
                                "kind": ["video"],
                                "content": [payload],
                                "duration_ms": [1200],
                            }
                        )
                    ]
                )
            )
        )[0]
    finally:
        mm._IMAGEIO = orig
    assert list(out["frame_index"]) == [0, 1, 2]
    want0 = hashlib.sha256(payload + (0).to_bytes(4, "big")).hexdigest()[:16]
    assert out["frame_digest"][0] == want0


def test_q187_conservation(spark):
    """Every batch document is charged to exactly one stage: per-source
    n_docs sums to the batch population and token mass is conserved."""
    from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

    out = QUERIES["q187_incremental_gate_attribution"].build(
        spark, SF_SMOKE
    )
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        col("doc_id") % 3 == 0
    )
    got = out.agg(F.sum("n_docs"), F.sum("n_tokens")).head()
    want_docs = docs.count()
    want_tokens = docs.select(
        F.sum(F.size(F.split(F.lower("text"), r"\s+")))
    ).head()[0]
    assert got[0] == want_docs
    assert got[1] == want_tokens
    stages = {r["stage"] for r in out.collect()}
    assert stages <= {
        "rules", "perplexity", "duplicate_corpus", "duplicate_batch", "kept"
    }


def test_streaming_curate_matches_sequential_batches(
    spark, tmp_path, curate_base
):
    """The streaming curation face == the sequential run_incremental
    chain on the same ordered batches: identical per-doc stage
    attribution, identical appended-doc sets, and a same-checkpoint
    re-run is a no-op (manifest idempotency tags)."""
    import glob
    import os
    import shutil
    import time

    from nyc_tlc_analytics_pipeline_spark.curate import CurateJob
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable
    from nyc_tlc_analytics_pipeline_spark.streaming.curate import (
        run_streaming_curate,
    )

    # the streaming face only READS the completed base run; the
    # sequential twin below copies it before mutating
    docs_path, base_out = curate_base
    final = spark.read.parquet(os.path.join(base_out, "final"))
    rows = final.orderBy("doc_id").limit(8).collect()

    def splice(a, b, c):
        # off the 8-token segment grid (see the multi-batch test)
        return " ".join(
            rows[a]["text"].split()[3:23]
            + rows[b]["text"].split()[23:43]
            + rows[c]["text"].split()[3:23]
        )

    novel1, novel2 = splice(2, 3, 4), splice(5, 6, 7)
    batches = [
        [(930001, rows[0]["source"], rows[0]["lang"], rows[0]["text"]),
         (930002, "web", "en", novel1)],
        [(940001, "web", "en", novel1),   # dup of batch 1's survivor
         (940002, "web", "en", novel2)],
    ]
    schema = "doc_id long, source string, lang string, text string"
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    bpaths = []
    for k, rows_k in enumerate(batches):
        tmp = str(tmp_path / f"__tmp{k}")
        spark.createDataFrame(rows_k, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        [part] = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(src, f"{k:03d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (time.time() + k * 10, time.time() + k * 10))
        bpaths.append(tmp)

    attr_p, docs_p = str(tmp_path / "attr"), str(tmp_path / "store")
    bands_p, segs_p = str(tmp_path / "bands"), str(tmp_path / "segs")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(
                spark.read.parquet(src).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_streaming_curate(
            stream, base_out, attr_p, docs_p, bands_p, segs_p, ckpt
        )

    run()
    got_attr = {
        r.doc_id: r.stage for r in ManifestTable(spark, attr_p).read().collect()
    }
    got_docs = {
        r.doc_id for r in ManifestTable(spark, docs_p).read().collect()
    }

    # sequential twin on a COPY of the completed base run
    seq_out = str(tmp_path / "seq")
    shutil.copytree(base_out, seq_out)
    sjob = CurateJob(spark, docs_path, seq_out)
    for k, bp in enumerate(bpaths):
        sjob.run_incremental(bp, batch_tag=f"b{k}")
    want_attr = {}
    for k in range(len(batches)):
        for r in spark.read.parquet(
            os.path.join(seq_out, f"increments/b{k}_attribution")
        ).collect():
            want_attr[r.doc_id] = r.stage
    want_docs = set()
    for k in range(len(batches)):
        for r in spark.read.parquet(
            os.path.join(seq_out, f"increments/b{k}")
        ).collect():
            want_docs.add(r.doc_id)

    assert got_attr == want_attr
    assert got_docs == want_docs
    assert got_attr[930001] == "duplicate_corpus"
    assert got_attr[930002] == "kept"
    assert got_attr[940001] == "duplicate_corpus"  # vs batch 1's survivor
    assert got_attr[940002] == "kept"

    # replay with the same checkpoint: availableNow finds nothing new
    n_before = ManifestTable(spark, docs_p).read().count()
    run()
    assert ManifestTable(spark, docs_p).read().count() == n_before


def test_semdedup_arrow_equals_expr_string_ids(spark):
    """The Arrow matmul pair kernel reproduces the rounded pairs the
    expression join produced — including STRING ids (the kernel derives
    the output id type from the input schema) and singleton buckets
    (empty kernel frames must still type-convert)."""
    import hashlib
    import random
    from collections import Counter

    from nyc_tlc_analytics_pipeline_spark.operators import cluster

    random.seed(5)
    rows = [
        (f"doc-{i:03d}", [random.random() for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    kw = dict(
        k=4, iters=2, threshold=0.2, max_cluster_size=16, n_planes=8, seed=1
    )
    out = cluster.semdedup_pairs(df, "vec_id", "embedding", **kw)
    assert dict(out.dtypes)["doc_a"] == dict(out.dtypes)["doc_b"] == "string"
    got = sorted((r.cluster_id, r.doc_a, r.doc_b, r.cos_sim) for r in out.collect())
    assert len(got) == 537
    assert Counter(p[0] for p in got) == {0: 210, 1: 276, 2: 36, 3: 15}
    assert got[-1] == (3, "doc-045", "doc-057", 0.739639)
    assert (2, "doc-006", "doc-015", 0.94123) in got
    # every pair, exactly: md5 of the sorted tuples' repr
    digest = hashlib.md5(repr(got).encode()).hexdigest()
    assert digest == "eca006b65120f52c76ab35b6f46276d9"
    tiny = spark.createDataFrame(rows[:3], "vec_id string, embedding array<double>")
    assert (
        cluster.semdedup_pairs(
            tiny, "vec_id", "embedding", k=2, iters=1, threshold=0.99
        ).collect()
        == []
    )
