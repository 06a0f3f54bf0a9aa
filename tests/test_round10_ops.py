"""Round-10 regression tests — the round-9 advisor items.

1. semantic_contamination: zero-norm vectors score cosine 0.0 (the
   IEEE 0/0=NaN alternative makes argmax and the contaminated predicate
   engine-dependent).
2. semantic_contamination: id column types derive from the input
   schemas — string doc ids work like longs.
3. auto_n_planes: result clamps to max_planes even when base is
   misconfigured above the cap.
"""

from __future__ import annotations

import os

from pyspark.sql.functions import col



def test_auto_n_planes_clamped_when_base_exceeds_cap():
    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    # misconfigured caller: base above the cap -> clamp, don't exceed
    assert similarity.auto_n_planes(1, base=30, max_planes=24) == 24
    assert (
        similarity.auto_n_planes(1 << 40, base=30, max_planes=24) == 24
    )
    # unaffected normal path
    assert similarity.auto_n_planes(2048) == 4
    assert similarity.auto_n_planes(2048 * 2**30) == 24


def _roundtrip(spark, tmp_path, name, rows, schema):
    # parquet round-trip: local frames have no size estimate and the
    # reference-corpus gate correctly fails closed on them
    p = os.path.join(str(tmp_path), name)
    spark.createDataFrame(rows, schema).write.parquet(p)
    return spark.read.parquet(p)


def test_semantic_contamination_zero_norm_convention(spark, tmp_path):
    """A zero-norm corpus vector and a zero-norm bench vector must both
    score cosine 0.0."""
    from nyc_tlc_analytics_pipeline_spark.operators import decontam

    bench = _roundtrip(
        spark,
        tmp_path,
        "bench",
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = _roundtrip(
        spark,
        tmp_path,
        "corpus",
        [
            (1, [0.0, 0.0, 0.0]),  # zero-norm corpus vector
            (2, [2.0, 0.0, 0.0]),  # exact match of bench 100
            (3, [0.0, 3.0, 0.0]),  # orthogonal to bench 100
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r
        for r in decontam.semantic_contamination(corpus, bench, 0.5).collect()
    }
    assert len(got) == 3
    # zero-norm corpus vector: cos 0.0 everywhere, smallest bid wins
    assert got[1].max_cos == 0.0
    assert got[1].nearest_bench == 100
    assert not got[1].contaminated
    # normal vector: zero-norm BENCH vector contributes 0.0, not NaN
    assert got[2].max_cos == 1.0 and got[2].nearest_bench == 100
    assert got[2].contaminated
    assert got[3].max_cos == 0.0 and got[3].nearest_bench == 100


def test_semantic_contamination_string_ids(spark, tmp_path):
    """Id types derive from the schemas: string doc ids must come back
    as strings with correct attribution and the smallest-id tie-break."""
    from nyc_tlc_analytics_pipeline_spark.operators import decontam

    bench = _roundtrip(
        spark,
        tmp_path,
        "bench_s",
        [("b-a", [1.0, 0.0]), ("b-b", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    corpus = _roundtrip(
        spark,
        tmp_path,
        "corpus_s",
        [("d-1", [2.0, 0.0]), ("d-2", [1.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    out = decontam.semantic_contamination(corpus, bench, 0.9)
    assert dict(out.dtypes)["vec_id"] == "string"
    assert dict(out.dtypes)["nearest_bench"] == "string"
    got = {r.vec_id: r for r in out.collect()}
    assert got["d-1"].max_cos == 1.0
    assert got["d-1"].nearest_bench == "b-a" and got["d-1"].contaminated
    # tie between b-a and b-b at cos ~0.707107 -> smallest bid
    assert got["d-2"].nearest_bench == "b-a"
    assert not got["d-2"].contaminated


def _emb(spark):
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

    import tests.conftest as C

    return load_table(spark, C.SF_SMOKE, "embeddings")


def test_lsh_recall_audit_full_probe_is_exhaustive(spark):
    """With multiprobe radius == n_planes every bucket is probed, so the
    candidate set is the whole corpus and recall@k must be exactly 1.0
    for every panel query — the audit's own ground-truth contract."""
    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = _emb(spark)
    planes = similarity.random_hyperplanes(4, 64, seed=7)
    panel = emb.filter(col("vec_id") % 10 == 0).limit(3)
    rep = similarity.lsh_recall_audit(
        emb, panel, planes, k=5, multiprobe_bits=4
    ).collect()
    assert len(rep) == 3
    n = emb.count()
    for r in rep:
        assert r.recall == 1.0 and r.n_hits == r.n_truth == 5
        assert r.n_candidates == n - 1  # everything but the query itself


def test_lsh_recall_audit_narrow_probe_detects_loss(spark):
    """With zero multiprobe the candidate set shrinks to the query's own
    bucket: candidates strictly fewer than the corpus, recall <= 1, and
    n_hits consistent with the report arithmetic."""
    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = _emb(spark)
    planes = similarity.random_hyperplanes(4, 64, seed=7)
    panel = emb.filter(col("vec_id") % 10 == 0).limit(3)
    rep = similarity.lsh_recall_audit(
        emb, panel, planes, k=5, multiprobe_bits=0
    ).collect()
    n = emb.count()
    assert all(r.n_candidates < n - 1 for r in rep)
    for r in rep:
        assert 0 <= r.n_hits <= r.n_truth
        assert abs(r.recall - r.n_hits / r.n_truth) < 2e-6


def test_ivf_recall_audit_full_probe_equals_brute(spark):
    """n_probe == K probes every centroid bucket — recall 1.0, the same
    contract ivf_topk's full-probe==brute test pins for one query."""
    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = _emb(spark)
    cents = similarity.ivf_centroids(emb, k=8)
    panel = emb.filter(col("vec_id") % 10 == 0).limit(3)
    rep = similarity.ivf_recall_audit(
        emb, panel, cents, k=5, n_probe=8
    ).collect()
    n = emb.count()
    assert len(rep) == 3
    for r in rep:
        assert r.recall == 1.0 and r.n_hits == r.n_truth == 5
        assert r.n_candidates == n - 1


def test_ivf_recall_audit_probe_subset_monotone(spark):
    """Widening the probe can only add candidates (supersets), so both
    n_candidates and n_hits are monotone non-decreasing in n_probe."""
    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = _emb(spark)
    cents = similarity.ivf_centroids(emb, k=8)
    panel = emb.filter(col("vec_id") % 10 == 0).limit(3)
    by_probe = {}
    for p in (1, 4, 8):
        by_probe[p] = {
            r.query_id: r
            for r in similarity.ivf_recall_audit(
                emb, panel, cents, k=5, n_probe=p
            ).collect()
        }
    for qid in by_probe[1]:
        for lo, hi in ((1, 4), (4, 8)):
            assert (
                by_probe[lo][qid].n_candidates <= by_probe[hi][qid].n_candidates
            )
            assert by_probe[lo][qid].n_hits <= by_probe[hi][qid].n_hits


def test_audit_panel_cap_fails_closed(spark):
    """A panel with no size estimate (or over the cap) must raise toward
    sampling instead of silently running a data-sized brute pass."""
    import pytest

    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = _emb(spark)
    planes = similarity.random_hyperplanes(4, 64, seed=7)

    class Huge:
        @property
        def _jdf(self):
            raise RuntimeError("no estimate")

    with pytest.raises(ValueError, match="sample a fixed panel"):
        similarity.lsh_recall_audit(emb, Huge(), planes, k=5)


def test_near_dup_gate_audit_consistency(spark):
    """The single-row gate audit must agree with its two constituent
    frames computed independently: n_true == |exact pairs|,
    n_candidates == |banded candidates|, n_hits == |intersection|, and
    the ratios follow."""
    from nyc_tlc_analytics_pipeline_spark.operators import dedup
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

    import tests.conftest as C

    docs = load_table(spark, C.SF_SMOKE, "documents")
    rep = dedup.near_dup_gate_audit(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).collect()
    assert len(rep) == 1
    r = rep[0]
    truth = {
        (x.doc_a, x.doc_b)
        for x in dedup.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", 3, 16, "md5")
    cand = {
        (x.doc_a, x.doc_b)
        for x in dedup.lsh_candidate_pairs(sigs, 4, 4).collect()
    }
    assert r.n_true == len(truth)
    assert r.n_candidates == len(cand)
    assert r.n_hits == len(truth & cand)
    if r.n_candidates:
        assert abs(r.cand_precision - r.n_hits / r.n_candidates) < 2e-6
    if r.n_true:
        assert abs(r.cand_recall - r.n_hits / r.n_true) < 2e-6


def test_multi_query_topk_partition_invariant(spark):
    """The two-stage per-query top-k must equal the unpartitioned
    top-k for ANY input partitioning — the invariant that lets the
    global window see only P·k rows per query.  Verified by running the
    same audit over 1-partition and many-partition layouts."""
    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = _emb(spark)
    planes = similarity.random_hyperplanes(4, 64, seed=7)
    panel = emb.filter(col("vec_id") % 10 == 0).limit(3)
    reports = []
    for parts in (1, 7):
        rep = similarity.lsh_recall_audit(
            emb.repartition(parts), panel, planes, k=5, multiprobe_bits=1
        )
        reports.append(sorted(map(tuple, rep.collect())))
    assert reports[0] == reports[1]


def test_incremental_embedding_classify_and_persisted_index(spark, tmp_path):
    """Status semantics + the persisted-index contract: classifying
    against a parquet-round-tripped embedding_bucket_table must equal
    recomputing the standing index inline, and the per-status counts
    must match independently computed candidate/verify sets."""
    from nyc_tlc_analytics_pipeline_spark.operators import dedup, similarity

    emb = _emb(spark)
    planes = similarity.random_hyperplanes(8, 64, seed=42)
    batch = emb.filter(col("vec_id") % 3 == 0)
    standing = emb.filter(col("vec_id") % 3 != 0)

    inline = dedup.incremental_embedding_classify(
        batch, standing, planes, threshold=0.3
    )
    idx_path = os.path.join(str(tmp_path), "emb_idx")
    dedup.embedding_bucket_table(standing, planes).write.parquet(idx_path)
    persisted = dedup.incremental_embedding_classify(
        batch,
        standing,
        planes,
        threshold=0.3,
        standing_buckets=spark.read.parquet(idx_path),
    )
    a = sorted((r.vec_id, r.status) for r in inline.collect())
    p = sorted((r.vec_id, r.status) for r in persisted.collect())
    assert a == p
    # statuses partition the batch; dup_vs_corpus wins over dup_in_batch
    assert len(a) == batch.count()
    statuses = {s for _, s in a}
    assert statuses <= {"dup_vs_corpus", "dup_in_batch", "new"}
    # report sums to the batch size per group
    rep = dedup.incremental_embedding_report(
        batch, standing, planes, "label", threshold=0.3
    ).collect()
    for r in rep:
        assert r.n_batch == r.n_dup_vs_corpus + r.n_dup_in_batch + r.n_new
    assert sum(r.n_batch for r in rep) == batch.count()


def test_incremental_embedding_planted_twin(spark, tmp_path):
    """A batch vector planted equal to a standing vector must classify
    dup_vs_corpus; a batch vector equal to an EARLIER batch vector (and
    unlike anything standing) must classify dup_in_batch."""
    from nyc_tlc_analytics_pipeline_spark.operators import dedup, similarity

    dim = 8
    planes = similarity.random_hyperplanes(4, dim, seed=3)

    def vec(seed):
        return [float((seed * 13 + d * 5) % 17 - 8) for d in range(dim)]

    standing_rows = [(100 + i, vec(i)) for i in range(5)]
    batch_rows = [
        (0, vec(2)),    # twin of standing 102 -> dup_vs_corpus
        (1, vec(50)),   # novel -> new
        (2, vec(50)),   # twin of batch 1 -> dup_in_batch
    ]
    standing = spark.createDataFrame(
        standing_rows, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: r.status
        for r in dedup.incremental_embedding_classify(
            batch, standing, planes, threshold=0.999
        ).collect()
    }
    assert got[0] == "dup_vs_corpus"
    assert got[1] == "new"
    assert got[2] == "dup_in_batch"
