"""Round-9 operator tests: the count-derived LSH plane ladder behind
q142's first driver oracle, the estimated-size gate on held-out LM
model broadcasts, schema-agnostic quantized top-k, and the lazy
cms_join_size plan."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql.functions import col

from nyc_tlc_analytics_pipeline_spark.operators import lm, similarity, sketch
from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

from .conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# q142 — count-derived plane ladder
# ---------------------------------------------------------------------------


def test_auto_n_planes_matches_float_formula_and_sql_ladder():
    """The integer doubling ladder must agree with the textbook float
    formula (base + ceil(log2(n/occupancy)), capped) AND with the SQL
    CASE ladder the q142 oracle runs in DuckDB — including exactly at
    every power-of-two boundary, where a float log2 could flip."""
    from nyc_tlc_analytics_pipeline_spark.plans.catalog_datapipe import (
        _q142_ladder_sql,
    )

    ns = [1, 2, 3, 2047, 2048, 2049, 20480, 1_000_000, 123_456_789]
    for e in range(24):
        ns += [2048 * 2**e - 1, 2048 * 2**e, 2048 * 2**e + 1]
    con = duckdb.connect()
    ladder = _q142_ladder_sql()
    for n in ns:
        got = similarity.auto_n_planes(n)
        ref = min(4 + max(0, math.ceil(math.log2(max(1.0, n / 2048)))), 24)
        assert got == ref, (n, got, ref)
        (sql_val,) = con.execute(
            f"SELECT {ladder} FROM (SELECT {n}::BIGINT AS n)"
        ).fetchone()
        assert got == sql_val, (n, got, sql_val)
    con.close()


def test_counted_planes_smoke_equals_base_planes(spark):
    """The smoke embeddings table is under the occupancy target, so the
    exact-count sizing resolves to the base 4 planes — and plane i
    depends only on (seed, i, d), so counted mode must EQUAL the fixed
    4-plane q118 layout element-for-element."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a, b = emb.filter(col("label") < 5), emb.filter(col("label") >= 5)
    planes = similarity.counted_planes(a, b, dim=64)
    assert planes == similarity.random_hyperplanes(4, 64, seed=42)


# ---------------------------------------------------------------------------
# held-out LM model broadcast gate
# ---------------------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_heldout_lm_broadcast_gate_takes_merge_when_model_big(spark):
    """An over-cap model must NOT be force-broadcast: both held-out
    scorers fall back to sort-merge joins on the model type tables
    (the q59/q63 estimate-blind-broadcast precedent), and the scores
    are identical either way.  The in-cap model (a parquet-backed
    frame with a real size estimate — the q138/q148 shape) keeps the
    all-broadcast map-side plan."""
    docs = load_table(spark, SF_SMOKE, "documents")
    en = docs.filter(col("lang") == "en")
    model = en.filter(col("doc_id") % 3 == 0)
    ev = en.filter(col("doc_id") % 3 != 0).limit(20)
    for fn in (lm.heldout_bigram_perplexity, lm.kneser_ney_perplexity):
        small = fn(ev, ["doc_id"], model)
        big = fn(ev, ["doc_id"], model, broadcast_cap=0)
        assert "SortMergeJoin" in _plan(big)
        assert "SortMergeJoin" not in _plan(small)
        assert "BroadcastHashJoin" in _plan(small)
        # join strategy changes the aggregation's FP summation order →
        # ~1e-15 dust on the raw doubles; callers round to 6 dp (rnd)
        def rows(df):
            return sorted(
                tuple(round(v, 6) if isinstance(v, float) else v for v in r)
                for r in df.collect()
            )

        assert rows(small) == rows(big)


def test_model_token_estimate_fail_open_to_merge(spark):
    """No usable optimizer estimate → 'huge' → the merge path: the safe
    failure mode for a broadcast decision.  A createDataFrame local
    frame reports the planner's unknown-size default, which must also
    land above any sane cap (tested via the public scorer plan)."""

    class Broken:
        @property
        def _jdf(self):
            raise RuntimeError("no plan")

    assert lm._model_token_estimate(Broken()) >= 1 << 30
    model = spark.createDataFrame(
        [("m1", "a b c a b")], "doc_id string, text string"
    )
    assert lm._model_token_estimate(model) > lm.MODEL_BROADCAST_CAP_TOKENS


# ---------------------------------------------------------------------------
# schema-agnostic quantized retrieval
# ---------------------------------------------------------------------------


def test_quantized_topk_schema_agnostic(spark):
    """quantized_cosine_topk / binary_rerank_topk on a frame WITHOUT a
    'label' column (and with an arbitrary payload column) — every
    non-vector column rides through, like cosine_topk."""
    rows = [
        (i, f"p{i}", [float((i * 7 + d * 3) % 11 - 5) for d in range(64)])
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, payload string, embedding array<double>"
    )
    q = [float((d * 5 + 1) % 9 - 4) for d in range(64)]
    got_q = similarity.quantized_cosine_topk(df, q, k=5)
    assert set(got_q.columns) == {
        "vec_id", "payload", "q_dot", "q_cos", "cos_exact"
    }
    assert got_q.count() == 5
    got_b = similarity.binary_rerank_topk(df, q, k=5, m=10)
    assert set(got_b.columns) == {"vec_id", "payload", "hamming", "cos_sim"}
    assert got_b.count() == 5


# ---------------------------------------------------------------------------
# cms_join_size is construction-lazy
# ---------------------------------------------------------------------------


def test_cms_join_size_runs_no_job_at_construction(spark):
    """Building the estimate frame must not launch a Spark job (the
    d-row count rides INSIDE the plan as a 1-row broadcast aggregate);
    the estimate itself is unchanged."""
    keys_a = spark.range(100).select(col("id").cast("string").alias("k"))
    keys_b = spark.range(50, 150).select(col("id").cast("string").alias("k"))
    sa = sketch.cms_partials(keys_a, "k", d=3, w=64)
    sb = sketch.cms_partials(keys_b, "k", d=3, w=64)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    est_df = sketch.cms_join_size(sa, sb)
    after = set(tracker.getJobIdsForGroup(None))
    assert before == after  # construction is a pure plan build
    assert est_df.first()[0] >= 50  # true overlap, CMS never under


# ---------------------------------------------------------------------------
# near-dup band-index compaction (the streaming store maintenance pass)
# ---------------------------------------------------------------------------


def test_near_dup_store_compaction_probe_equality(spark, tmp_path):
    """N micro-batches append N small file sets to the survivor/band
    manifest tables; compaction must bound the file count WITHOUT
    changing what any future batch's probe sees: the next increment
    classifies identically against the compacted and uncompacted index,
    and the store contents are row-for-row identical."""
    import glob
    import os

    from nyc_tlc_analytics_pipeline_spark.operators import dedup
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable
    from nyc_tlc_analytics_pipeline_spark.streaming.near_dup import (
        compact_near_dup_store,
        run_streaming_near_dup,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(60).cache()
    from .test_round8_ops import _write_doc_batches

    src = str(tmp_path / "docs_src")
    _write_doc_batches(spark, docs, src, n_files=3)
    status_p, docs_p, bands_p = (
        str(tmp_path / t) for t in ("status", "store", "bands")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_streaming_near_dup(stream, status_p, docs_p, bands_p, str(tmp_path / "ckpt"))

    def part_files(table):
        snap = table.snapshot()
        return [
            f
            for d in snap["dirs"]
            for f in glob.glob(
                os.path.join(table.data_dir, d, "**", "*.parquet"),
                recursive=True,
            )
        ]

    def next_batch_status(bands_t, docs_t):
        nb = docs.withColumn("doc_id", col("doc_id") + 100000)
        standing = docs_t.read().drop("__batch_id")
        st = dedup.incremental_minhash_classify(
            nb, standing, "doc_id", "text",
            standing_bands=bands_t.read().select("doc", "band", "bucket"),
        )
        return {r.doc_id: r.status for r in st.select("doc_id", "status").collect()}

    bands_t, docs_t = ManifestTable(spark, bands_p), ManifestTable(spark, docs_p)
    pre_files = len(part_files(bands_t))
    pre_status = next_batch_status(bands_t, docs_t)
    pre_rows = sorted(map(tuple, bands_t.read().collect()))

    got = compact_near_dup_store(spark, docs_p, bands_p, status_p,
                                 target_partitions=2)
    assert all(v is not None for v in got.values())  # CAS won everywhere

    bands_t2, docs_t2 = ManifestTable(spark, bands_p), ManifestTable(spark, docs_p)
    post_files = len(part_files(bands_t2))
    assert post_files <= 2 < pre_files  # 3 appends -> bounded
    assert sorted(map(tuple, bands_t2.read().collect())) == pre_rows
    assert next_batch_status(bands_t2, docs_t2) == pre_status


# ---------------------------------------------------------------------------
# q156 — mergeable quantile sketch (dyadic histogram partials)
# ---------------------------------------------------------------------------


def test_qhist_merge_equals_whole_and_accuracy(spark):
    """Shard partials sum-merged must equal the whole-data partial
    table EXACTLY (the sketch-family closure law), and every estimated
    quantile lands within the 2^-s relative-error bound of the exact
    interpolated percentile — including negative and near-zero values,
    where the dyadic layout degrades to EXACT unit buckets."""
    import random

    random.seed(11)
    vals = (
        [random.uniform(-500, 12000) for _ in range(4000)]
        + [0.0, -0.004, 0.004, -0.5, 0.5]
    )
    df = spark.createDataFrame(
        [("g%d" % (i % 2), v) for i, v in enumerate(vals)],
        "g string, v double",
    ).cache()
    whole = sketch.qhist_partials(df, "v", ["g"])
    sh = [
        sketch.qhist_partials(df.filter(col("v") > 100), "v", ["g"]),
        sketch.qhist_partials(
            df.filter((col("v") <= 100) & (col("v") > -10)), "v", ["g"]
        ),
        sketch.qhist_partials(df.filter(col("v") <= -10), "v", ["g"]),
    ]
    merged = sketch.qhist_merge(sh[0].unionByName(sh[1]).unionByName(sh[2]), ["g"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )

    qs = [0.05, 0.5, 0.9, 0.99]
    est = {
        (r.g, r.q): r.q_est
        for r in sketch.qhist_quantiles(whole, ["g"], qs).collect()
    }
    import numpy as np

    for g in ("g0", "g1"):
        sub = sorted(v for i, v in enumerate(vals) if "g%d" % (i % 2) == g)
        for q in qs:
            exact = float(np.quantile(sub, q, method="linear"))
            # bucket bound: 2^-s relative + the 10^-precision resolution
            tol = abs(exact) * 2.0**-sketch.QHIST_SUBBITS + 0.02
            assert abs(est[(g, q)] - exact) <= tol, (g, q, est[(g, q)], exact)


def test_qhist_bucket_count_is_model_sized(spark):
    """10x more rows must NOT mean 10x more buckets: the bucket table
    is bounded by the value RANGE (≤ 2^s per octave), not the data —
    the property that makes the partial a catalog statistic."""
    small = spark.range(2_000).select(
        (col("id") % 10_000).cast("double").alias("v")
    )
    big = spark.range(200_000).select(
        (col("id") % 10_000).cast("double").alias("v")
    )
    n_small = sketch.qhist_partials(small, "v", [], precision=0).count()
    n_big = sketch.qhist_partials(big, "v", [], precision=0).count()
    assert n_big <= n_small * 1.5  # range-bounded, not data-bounded
    assert n_big <= 64 * 2**sketch.QHIST_SUBBITS


# ---------------------------------------------------------------------------
# vocab-capped Kneser–Ney (KenLM's deployment shape)
# ---------------------------------------------------------------------------


def _kept_vocab(texts, cap):
    """Top-``cap`` unigrams by (count desc, token asc) — the Python
    twin of the operator's vocab pick (MODEL corpus only)."""
    from collections import Counter

    cnt = Counter(t for doc in texts for t in doc.lower().split())
    return {t for t, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:cap]}


def _unk_map(texts, kept):
    return [
        " ".join(t if t in kept else "<unk>" for t in doc.lower().split())
        for doc in texts
    ]


def test_kneser_ney_vocab_cap(spark):
    """cap ≥ |vocab| must be the identity; a small cap must equal the
    UNCAPPED operator run on texts pre-mapped to <unk> (so the whole
    capped path — vocab pick, model+eval mapping, V counting — reduces
    to the already-reference-checked math on the mapped streams), and
    the capped model's bigram-type table is bounded by (cap+1)²."""
    from .test_round8_ops import _kn_reference

    model_texts = ["a b c a b d", "e b c a f", "g h a b"]
    eval_texts = ["a b c", "a q z b", "g h q", "z q"]
    model = spark.createDataFrame([(t,) for t in model_texts], "text string")
    ev = spark.createDataFrame(
        [(i, t) for i, t in enumerate(eval_texts)], "doc_id long, text string"
    )

    def run(cap):
        return {
            r.doc_id: (r.n_bigrams, r.n_unseen, round(r.log_ppl, 9))
            for r in lm.kneser_ney_perplexity(
                ev, ["doc_id"], model, vocab_cap=cap
            ).collect()
        }

    uncapped = {
        r.doc_id: (r.n_bigrams, r.n_unseen, round(r.log_ppl, 9))
        for r in lm.kneser_ney_perplexity(ev, ["doc_id"], model).collect()
    }
    assert run(100) == uncapped  # cap above |vocab| is the identity

    cap = 3
    got = run(cap)
    kept = _kept_vocab(model_texts, cap)  # the MODEL's vocab maps BOTH sides
    ref = _kn_reference(_unk_map(model_texts, kept), _unk_map(eval_texts, kept))
    assert len(got) == len(ref)
    for i, (nb, unseen, lp) in enumerate(ref):
        assert got[i][0] == nb
        assert got[i][1] == unseen
        assert got[i][2] == pytest.approx(lp, abs=1e-9)


# ---------------------------------------------------------------------------
# reference QUICK_START convenience verbs (download-sample / load-zones)
# ---------------------------------------------------------------------------


def test_cli_load_zones_and_download_sample_surface(spark, tmp_path, capsys):
    """`load-zones` rebuilds ONLY dim_zones from a lookup CSV (the
    reference's load_zones verb); `download-sample` exposes the
    reference's three testing months.  Offline: the download verb is
    checked at the parser/constant level (the HTTP path has its own
    live-server tests)."""
    import json

    from nyc_tlc_analytics_pipeline_spark.cli import main
    from nyc_tlc_analytics_pipeline_spark.sources.downloader import SAMPLE_MONTHS

    from .tlc_synth import synth_zones

    csv = tmp_path / "taxi_zones.csv"
    synth_zones().to_csv(csv, index=False)
    wh = str(tmp_path / "wh")
    rc = main(["--warehouse-dir", wh, "load-zones", "--zones-csv", str(csv)])
    out = json.loads(capsys.readouterr().out)
    assert rc in (0, None)
    assert out["dim_zones"] == len(synth_zones())
    from nyc_tlc_analytics_pipeline_spark.core.config import PipelineConfig
    from nyc_tlc_analytics_pipeline_spark.pipeline import TlcPipeline

    zones = TlcPipeline(spark, PipelineConfig(warehouse_dir=wh)).tables()["dim_zones"]
    assert "zone_id" in zones.columns or "location_id" in zones.columns

    assert SAMPLE_MONTHS == ("2024-01", "2024-06", "2024-12")
    import argparse

    with pytest.raises(SystemExit):  # --zones-csv is required
        main(["--warehouse-dir", wh, "load-zones"])


def test_decontam_bench_broadcast_gate(spark, tmp_path):
    """The benchmark-gram semi join is the same reference-corpus
    broadcast class as the held-out LM model: an over-cap benchmark
    must take the sort-merge path, with identical contaminated-id
    results either way."""
    from nyc_tlc_analytics_pipeline_spark.operators import decontam

    docs = load_table(spark, SF_SMOKE, "documents")
    bench = docs.filter(col("doc_id") % 7 == 0).select("doc_id", "text")
    corpus = docs.filter(col("doc_id") % 7 != 0).select("doc_id", "text")

    flagged = decontam.flag_contaminated(corpus, bench, n=3)
    assert "SortMergeJoin" not in _plan(flagged)

    import nyc_tlc_analytics_pipeline_spark.operators.decontam as D

    old = D.BENCH_BROADCAST_CAP_TOKENS
    try:
        D.BENCH_BROADCAST_CAP_TOKENS = 0
        merged = decontam.flag_contaminated(corpus, bench, n=3)
        assert "SortMergeJoin" in _plan(merged)
        assert sorted(r.doc_id for r in merged.collect()) == sorted(
            r.doc_id for r in flagged.collect()
        )
    finally:
        D.BENCH_BROADCAST_CAP_TOKENS = old


def test_semantic_contamination_planted_and_gated(spark, tmp_path):
    """A corpus vector planted equal to a benchmark vector must flag
    with max_cos 1.0 and point at that bench id (smallest id on ties);
    an over-budget benchmark estimate raises toward the shortlist path
    instead of silently shuffling corpus x bench."""
    from nyc_tlc_analytics_pipeline_spark.operators import decontam

    dim = 8
    def vec(seed):
        return [float((seed * 7 + d * 3) % 11 - 5) for d in range(dim)]

    bench_rows = [(100 + i, vec(i)) for i in range(5)]
    corpus_rows = [(i, vec(i + 50)) for i in range(10)] + [(99, vec(2))]
    # parquet round-trip: a createDataFrame local frame has NO size
    # estimate, and the gate (correctly) fails closed on it
    import os

    tmp = str(tmp_path)
    spark.createDataFrame(
        bench_rows, "vec_id long, embedding array<double>"
    ).write.parquet(os.path.join(tmp, "bench"))
    spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    ).write.parquet(os.path.join(tmp, "corpus"))
    bench = spark.read.parquet(os.path.join(tmp, "bench"))
    corpus = spark.read.parquet(os.path.join(tmp, "corpus"))
    got = {
        r.vec_id: r
        for r in decontam.semantic_contamination(
            corpus, bench, threshold=0.99
        ).collect()
    }
    assert len(got) == len(corpus_rows)
    planted = got[99]
    assert planted.max_cos == 1.0 and planted.contaminated
    assert planted.nearest_bench == 102  # the planted twin's bench id

    import nyc_tlc_analytics_pipeline_spark.core.guards as G

    class Huge:
        @property
        def _jdf(self):
            raise RuntimeError("no estimate")

    with pytest.raises(ValueError, match="shortlist"):
        decontam.semantic_contamination(corpus, Huge(), threshold=0.5)


def test_hybrid_rrf_fusion_semantics(spark, tmp_path):
    """RRF fundamentals on a constructed corpus: a doc that is #1 in
    BOTH towers outscores docs that top only one list; docs absent
    from both lists never appear; rrf == 1/(c+lex) + 1/(c+vec)."""
    import os

    from nyc_tlc_analytics_pipeline_spark.operators import retrieval

    docs_rows = [
        (1, "alpha beta gamma"),          # lexical hit + vector twin
        (2, "alpha alpha alpha alpha"),   # strong lexical only
        (3, "delta epsilon zeta"),        # neither
    ]
    qv = [1.0, 0.0, 0.0, 0.0]
    emb_rows = [(1, [0.9, 0.1, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
                (3, [0.0, 0.9, 0.1, 0.0])]
    spark.createDataFrame(docs_rows, "doc_id long, text string").write.parquet(
        os.path.join(str(tmp_path), "d"))
    spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<double>"
    ).write.parquet(os.path.join(str(tmp_path), "e"))
    docs = spark.read.parquet(os.path.join(str(tmp_path), "d"))
    emb = spark.read.parquet(os.path.join(str(tmp_path), "e"))

    got = retrieval.hybrid_rrf(
        docs, emb, ["alpha", "beta"], qv, k=10, pool=2, c=60
    ).collect()
    by_id = {r.doc_id: r for r in got}
    assert 3 not in by_id or by_id[3].lex_rank or by_id[3].vec_rank
    # doc 1: lexical rank 2 (doc 2 has more alphas... but beta helps) or 1;
    # assert the algebra rather than the rank values:
    for r in got:
        expect = sum(
            1.0 / (60 + rank)
            for rank in (r.lex_rank, r.vec_rank)
            if rank is not None
        )
        # rrf is nudge-rounded to 9 dp -> compare at the rounding grain
        assert abs(r.rrf - expect) < 2e-9
    # doc 1 is the only doc in BOTH lists -> highest fused score
    assert got[0].doc_id == 1
    assert by_id[1].lex_rank is not None and by_id[1].vec_rank is not None
