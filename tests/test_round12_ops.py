"""Round-12 operator tests: soft dedup's PRODUCTION MinHash mode (q186,
VERDICT r11 item 1) — the last pair consumer to get its q137/q144-style
production twin — plus the two-pass pack_contiguous invariants exercised
through the q182 composition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from nyc_tlc_analytics_pipeline_spark.operators import dedup
from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

from .conftest import SF_SMOKE

_T = 0.5
_DELTA = 0.5


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").cache()


@pytest.fixture(scope="module")
def soft_exact(docs):
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=_T)
    return {
        r.lang: r.asDict()
        for r in dedup.soft_dedup_report(
            docs, pairs.select("doc_a", "doc_b"), delta=_DELTA
        ).collect()
    }


@pytest.fixture(scope="module")
def soft_minhash(docs):
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, threshold=_T
    )
    return {
        r.lang: r.asDict()
        for r in dedup.soft_dedup_report(
            docs, pairs.select("doc_a", "doc_b"), delta=_DELTA
        ).collect()
    }


def test_soft_dedup_minhash_mode_bounds_exact_mode(soft_exact, soft_minhash):
    """MinHash pairs ⊆ exact pairs at the same threshold ⇒ MinHash
    clusters REFINE exact clusters ⇒ per language: identical doc/token
    totals, at-least-as-many clusters, at-least-as-many first copies
    (unique_tokens), and soft value between unique and raw — the q186
    registration's invariants."""
    assert set(soft_exact) == set(soft_minhash)
    for lang in soft_exact:
        ex, mh = soft_exact[lang], soft_minhash[lang]
        assert mh["n_docs"] == ex["n_docs"]
        assert mh["raw_tokens"] == ex["raw_tokens"]
        assert mh["n_clusters"] >= ex["n_clusters"]
        assert mh["unique_tokens"] >= ex["unique_tokens"]
        assert mh["n_repeat_docs"] <= ex["n_repeat_docs"]
        # less merging -> less discounting -> more retained soft value
        assert mh["soft_tokens"] >= ex["soft_tokens"] - 1e-9
        assert (
            mh["unique_tokens"] - 1e-9
            <= mh["soft_tokens"]
            <= mh["raw_tokens"] + 1e-9
        )
    # the smoke corpus's planted near-dup families make this non-trivial
    assert any(
        soft_exact[lang]["n_repeat_docs"] > 0 for lang in soft_exact
    )


def test_soft_dedup_minhash_nontrivial_and_deterministic(docs, soft_minhash):
    """The MinHash mode actually discounts on the smoke corpus (LSH
    recall 1.0 on the planted ≥0.9 families) and is layout-independent:
    a repartitioned input produces the identical report."""
    assert any(r["n_repeat_docs"] > 0 for r in soft_minhash.values())
    pairs = dedup.minhash_dedup_pairs(
        docs.repartition(7), "doc_id", "text", n=3, threshold=_T
    )
    again = {
        r.lang: r.asDict()
        for r in dedup.soft_dedup_report(
            docs.repartition(7), pairs.select("doc_a", "doc_b"), delta=_DELTA
        ).collect()
    }
    assert again == soft_minhash


def test_q186_registration_matches_direct_composition(spark, soft_minhash):
    """The q186 catalog entry is exactly minhash_dedup_pairs →
    soft_dedup_report — guards the registration against drifting from
    the operator it claims to register."""
    from nyc_tlc_analytics_pipeline_spark.plans import catalog_datapipe as cd

    got = {r.lang: r.asDict() for r in cd.q186(spark, SF_SMOKE).collect()}
    assert got == soft_minhash


# ---------------------------------------------------------------------------
# end-to-end curate job (VERDICT r11 item 4)
# ---------------------------------------------------------------------------


def _docs_parquet() -> str:
    import os

    return os.path.join(SF_SMOKE, "documents.parquet")


def test_curate_attribution_matches_q132_oracle(spark, duck_smoke, tmp_path):
    """The job's journaled attribution accounting IS the q132 oracle
    form: run the job in oracle mode (exact-Jaccard pairs) and compare
    the per-(source, stage) doc/token counts with DuckDB replaying the
    registered q132 SQL on the same parquet."""
    from nyc_tlc_analytics_pipeline_spark.curate import CurateJob
    from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES

    job = CurateJob(
        spark,
        _docs_parquet(),
        str(tmp_path / "out"),
        pair_source="jaccard",
        ppl_cutoff=3.41,
        threshold=0.5,
    )
    summary = job.run()
    want = {
        f"{src}/{stage}": {"n_docs": nd, "n_tokens": nt}
        for src, stage, nd, nt in duck_smoke.execute(
            QUERIES["q132_funnel_attribution"].oracle
        ).fetchall()
    }
    got = {k: v for k, v in summary["funnel"].items() if not k.startswith("_post/")}
    assert got == want
    # every input document is accounted for exactly once in the funnel
    n_docs = duck_smoke.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert sum(v["n_docs"] for v in got.values()) == n_docs
    # and the shard output reconciles with the post-funnel stages
    n_kept = sum(v["n_docs"] for k, v in got.items() if k.endswith("/kept"))
    assert summary["shards"]["n_docs"] == (
        n_kept
        - summary["segment_dedup"]["n_emptied"]
        - summary["decontam"]["n_removed"]
    )
    assert summary["shards"]["n_packs"] >= 1
    assert 0 < summary["shards"]["fill_pct"] <= 100


def test_curate_kill_and_resume_is_idempotent(spark, tmp_path):
    """Kill the job mid-run (decontam dies beyond retries), re-run:
    resume must skip the completed stages (attribution journaled, not
    re-executed) and converge to the same outputs as a clean run."""
    import json as _json

    from nyc_tlc_analytics_pipeline_spark.curate import CurateJob
    from nyc_tlc_analytics_pipeline_spark.pipeline import StageFailed

    out = str(tmp_path / "out")
    job = CurateJob(spark, _docs_parquet(), out)
    real = job.stage_decontam

    def dead():
        raise RuntimeError("stage killed")

    job.stage_decontam = dead
    with pytest.raises(StageFailed) as ei:
        job.run(retries=0)
    assert ei.value.stage == "decontam"
    state = _json.load(open(job._state_path))
    assert state["stages"]["attribution"]["status"] == "success"
    assert state["stages"]["segment_dedup"]["status"] == "success"
    assert state["stages"]["decontam"]["errors"] == ["RuntimeError: stage killed"]
    attribution_before = state["stages"]["attribution"]["result"]

    job.stage_decontam = real  # "fix the bug", re-run
    summary = job.run()
    state = _json.load(open(job._state_path))
    # journaled stages were NOT re-executed: one attempt, same result
    assert state["stages"]["attribution"]["attempts"] == 1
    assert {
        k: v for k, v in summary["funnel"].items() if not k.startswith("_post/")
    } == attribution_before

    # a fresh no-resume run on a second dir produces the same summary
    job2 = CurateJob(spark, _docs_parquet(), str(tmp_path / "out2"))
    summary2 = job2.run(resume=False)
    assert summary2 == summary


def test_curate_cli_drive(spark, tmp_path, capsys):
    """The CLI verb end-to-end: curate a corpus dir into training
    shards and print the reconciling summary JSON."""
    import json as _json

    from nyc_tlc_analytics_pipeline_spark import cli

    rc = cli.main(
        [
            "--warehouse-dir",
            str(tmp_path / "wh"),
            "curate-e2e",
            "--docs",
            _docs_parquet(),
            "--out",
            str(tmp_path / "out"),
            "--stages",
            "2",
            "--budget",
            "256",
        ]
    )
    assert rc in (0, None)
    summary = _json.loads(capsys.readouterr().out)
    assert summary["shards"]["n_packs"] >= 1
    # shards exist on disk, partitioned by curriculum stage
    import glob as _glob

    assert _glob.glob(str(tmp_path / "out" / "shards" / "stage=*"))


# ---------------------------------------------------------------------------
# broadcast-audit fixes (the 100x fixture melt class)
# ---------------------------------------------------------------------------


def test_jaccard_prefix_branch_never_broadcasts(spark, docs):
    """The prefix branch only engages at >= 16 MB input, where dfreq,
    the exploded prefix frames and the per-doc array frames are all
    data-sized — none may be auto-broadcast just because a fixture's
    parquet sits under autoBroadcastJoinThreshold (the r12 100x-audit
    OOM class).  The merge hints must hold at ANY input size."""
    out = dedup.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, prefix_filter=True
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    # and the two modes still agree exactly
    naive = {
        (r.doc_a, r.doc_b): round(r.jaccard, 6)
        for r in dedup.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, prefix_filter=False
        ).collect()
    }
    pref = {
        (r.doc_a, r.doc_b): round(r.jaccard, 6) for r in out.collect()
    }
    assert pref == naive and len(pref) >= 5


def test_curate_incremental_batch(spark, tmp_path, curate_job_copy):
    """The incremental face: after a completed run, a batch containing
    (a) exact copies of standing docs, (b) genuinely new docs, and
    (c) an in-batch duplicate pair classifies each correctly, appends
    only novel content, and a re-run of the same batch is a journaled
    no-op with identical outputs (idempotent increments)."""
    from nyc_tlc_analytics_pipeline_spark.curate import CurateJob, IncrementStore

    job = curate_job_copy  # completed base run (session fixture copy)
    store = IncrementStore(spark, job.out_dir, job.path("increments"))
    final = spark.read.parquet(job.path("final"))
    # build the batch from two standing docs (verbatim copies) + two
    # fresh docs (one duplicated in-batch, shingle-disjoint vocab)
    standing_rows = final.orderBy("doc_id").limit(5).collect()
    # novel text = 20-token chunks of three OTHER standing docs glued
    # together: its token transitions are in-model (passes the standing
    # LM filter) but its 3-gram shingle overlap with any single parent
    # is far below the 0.5 near-dup threshold
    novel = " ".join(
        standing_rows[2]["text"].split()[:20]
        + standing_rows[3]["text"].split()[20:40]
        + standing_rows[4]["text"].split()[:20]
    )
    batch_rows = [
        (900001, standing_rows[0]["source"], standing_rows[0]["lang"],
         standing_rows[0]["text"]),
        (900002, standing_rows[1]["source"], standing_rows[1]["lang"],
         standing_rows[1]["text"]),
        (900003, "web", "en", novel),
        (900004, "web", "en", novel),  # in-batch dup of 900003
    ]
    bpath = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        batch_rows, "doc_id long, source string, lang string, text string"
    ).write.parquet(bpath)

    summary = job.run_incremental(bpath, batch_tag="b1")
    gate = summary["gate"]
    assert gate.get("duplicate_corpus", 0) == 2
    assert gate.get("duplicate_batch", 0) == 1
    assert gate.get("kept", 0) == 1
    inc = store.batch(store.docs, "b1")
    assert inc.count() == summary["appended"]["n_docs_appended"] == 1
    assert inc.head()["doc_id"] == 900003

    # idempotent: same batch tag again -> journaled, identical output
    again = job.run_incremental(bpath, batch_tag="b1")
    # a completed journal restarts fresh: the store skips the committed
    # tag, and the result is read from the rows it committed
    assert again["appended"] == summary["appended"]
    assert store.batch(store.docs, "b1").count() == 1
    # and the MAIN run's journal was never touched by the batch journal
    import json as _json

    main_state = _json.load(open(job._state_path))
    assert set(main_state["stages"]) == set(CurateJob._STAGES)
