"""Round-11 operator tests: the gate audit's fail-closed source budget,
the deterministic fixed-size md5 sample behind it, forward/nearest as-of
joins, incremental IVF maintenance, and the recall-remediation loop."""

from __future__ import annotations

import pytest

from .conftest import full_tier

import tests.conftest as C
from nyc_tlc_analytics_pipeline_spark.operators import dedup, sampling
from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table


# ---------------------------------------------------------------------------
# hash_top_n — deterministic fixed-size sample
# ---------------------------------------------------------------------------


def test_hash_top_n_fixed_size_and_layout_invariant(spark):
    """The sample is exactly n rows, stable under repartitioning, and
    equals the n smallest hash fractions (the q47 convention)."""
    docs = load_table(spark, C.SF_SMOKE, "documents").select("doc_id", "text")
    s1 = {r.doc_id for r in sampling.hash_top_n(docs, "doc_id", 50, "gate").collect()}
    s2 = {
        r.doc_id
        for r in sampling.hash_top_n(
            docs.repartition(7, "doc_id"), "doc_id", 50, "gate"
        ).collect()
    }
    assert len(s1) == 50
    assert s1 == s2
    # ground truth: order ALL ids by the same hash fraction, take 50
    from pyspark.sql.functions import col

    ordered = (
        docs.select("doc_id", sampling.hash_fraction("doc_id", "gate").alias("h"))
        .orderBy("h", col("doc_id"))
        .collect()
    )
    assert s1 == {r.doc_id for r in ordered[:50]}


def test_hash_top_n_salt_changes_sample(spark):
    docs = load_table(spark, C.SF_SMOKE, "documents").select("doc_id", "text")
    a = {r.doc_id for r in sampling.hash_top_n(docs, "doc_id", 50, "gate").collect()}
    b = {r.doc_id for r in sampling.hash_top_n(docs, "doc_id", 50, "other").collect()}
    assert a != b


# ---------------------------------------------------------------------------
# near_dup_gate_audit — fail-closed source budget
# ---------------------------------------------------------------------------


def test_gate_audit_source_budget_fails_closed(spark):
    """A source frame with no size estimate (or over the cap) must raise
    toward sampling instead of silently running a corpus-sized shingle
    self-join (the q161 round-10 finding)."""

    class Huge:
        @property
        def _jdf(self):
            raise RuntimeError("no estimate")

    with pytest.raises(ValueError, match="hash_top_n"):
        dedup.near_dup_gate_audit(Huge(), "doc_id", "text")


def test_gate_audit_sampled_source_passes_budget(spark):
    """hash_top_n's GlobalLimit carries a row-bounded size estimate, so
    the sampled frame passes the budget gate no matter the source scan
    size — and the audit's numbers agree with its constituent frames
    computed independently over the same sample."""
    docs = load_table(spark, C.SF_SMOKE, "documents").select("doc_id", "text")
    sample = sampling.hash_top_n(docs, "doc_id", 100, "gate")
    rep = dedup.near_dup_gate_audit(sample, "doc_id", "text", n=3).collect()
    assert len(rep) == 1
    r = rep[0]
    truth = {
        (x.doc_a, x.doc_b)
        for x in dedup.jaccard_pairs(
            sample, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    sigs = dedup.minhash_signatures(sample, "doc_id", "text", 3, 16)
    cand = {
        (x.doc_a, x.doc_b)
        for x in dedup.lsh_candidate_pairs(sigs, 4, 4).collect()
    }
    assert r.n_true == len(truth)
    assert r.n_candidates == len(cand)
    assert r.n_hits == len(truth & cand)


# ---------------------------------------------------------------------------
# recall remediation (q164 operators)
# ---------------------------------------------------------------------------


def _emb(spark):
    return load_table(spark, C.SF_SMOKE, "embeddings").select(
        "vec_id",
        __import__("pyspark.sql.functions", fromlist=["col"]).col("embedding")
        .cast("array<double>")
        .alias("embedding"),
    )


def test_corpus_mean_matches_python(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = _emb(spark)
    mu = similarity.corpus_mean(emb, "embedding")
    rows = [list(r.embedding) for r in emb.collect()]
    assert len(mu) == 64
    for pos in (0, 31, 63):
        want = round(sum(v[pos] for v in rows) / len(rows) + 1e-9, 6)
        assert abs(mu[pos] - want) < 2e-6


def test_data_aware_planes_translation_invariant(spark):
    """The difference-pair construction must cancel a common-mode
    offset: planes derived from the corpus and from the corpus + 0.5
    are identical (same md5 draw — ids unchanged — and the shift
    subtracts out)."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = _emb(spark)
    shifted = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(0.5)).alias("embedding"),
    )
    p1 = similarity.data_aware_planes(emb, n_planes=4, salt="t")
    p2 = similarity.data_aware_planes(shifted, n_planes=4, salt="t")
    assert len(p1) == 4 and all(len(p) == 64 for p in p1)
    for a, b in zip(p1, p2):
        assert a == b


def test_remediation_reports_shapes_and_recovery(spark):
    """On the rotation-drift fixture the retrained IVF index must not
    be WORSE than the stale one (the q164 recovery claim at smoke
    scale), and both report operators return one row per config with
    the audit summary columns."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import cluster, similarity

    OFF = 10_000_000
    base = _emb(spark)
    perm = base.unionByName(
        base.select(
            (col("vec_id") + OFF).alias("vec_id"),
            F.expr(
                "transform(sequence(1, 64), i -> "
                "element_at(embedding, CAST((i + 6) % 64 + 1 AS INT)))"
            ).alias("embedding"),
        )
    ).localCheckpoint()
    panel = perm.filter(
        (col("vec_id") >= OFF) & (col("vec_id") % 25 == 0) & (col("vec_id") < OFF + 500)
    )
    stale = similarity.ivf_centroids(base, k=8)
    _, km = cluster.kmeans_fit(perm, "vec_id", "embedding", k=8, iters=2)
    fresh = [(i, c) for i, c in enumerate(km)]
    rep = similarity.ivf_remediation_report(
        perm, panel, [("stale", stale, 2), ("retrained", fresh, 2)], k=5
    ).collect()
    by = {r.config: r for r in rep}
    assert set(by) == {"stale", "retrained"}
    assert all(r.family == "ivf" and r.n_queries == 20 for r in rep)
    assert by["retrained"].mean_recall >= by["stale"].mean_recall

    mu = similarity.corpus_mean(perm, "embedding")
    import nyc_tlc_analytics_pipeline_spark.plans.catalog_datapipe as cd

    lrep = similarity.lsh_remediation_report(
        perm,
        panel,
        [
            ("stale", cd._PLANES_8x64, 1, None),
            ("recentered", cd._PLANES_8x64, 1, mu),
        ],
        k=5,
    ).collect()
    assert {r.config for r in lrep} == {"stale", "recentered"}
    assert all(r.n_queries == 20 for r in lrep)


# ---------------------------------------------------------------------------
# incremental IVF index maintenance (q165 operators)
# ---------------------------------------------------------------------------


def test_append_ivf_index_equals_rebuild(spark, tmp_path):
    """Appending a batch under FROZEN centroids must leave the index
    byte-equivalent (same (vec_id, bucket) set) to a full rebuild of
    standing ∪ batch under the same centroids — and the persisted probe
    must return exactly what the in-plan ivf_topk returns on the union."""
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = load_table(spark, C.SF_SMOKE, "embeddings")
    standing = emb.filter(col("vec_id") % 3 != 0)
    batch = emb.filter(col("vec_id") % 3 == 0)
    cents = similarity.ivf_centroids(standing, k=8)

    inc = str(tmp_path / "inc")
    similarity.write_ivf_index(standing, inc, cents)
    similarity.append_ivf_index(batch, inc, cents)
    reb = str(tmp_path / "reb")
    similarity.write_ivf_index(standing.unionByName(batch), reb, cents)

    a = {
        (r.vec_id, r.ivf_bucket)
        for r in spark.read.parquet(inc).select("vec_id", "ivf_bucket").collect()
    }
    b = {
        (r.vec_id, r.ivf_bucket)
        for r in spark.read.parquet(reb).select("vec_id", "ivf_bucket").collect()
    }
    assert a == b

    qvec = [float(x) for x in emb.filter(col("vec_id") == 1).head().embedding]
    got = {
        (r.vec_id, r.cos_sim)
        for r in similarity.read_ivf_probe(
            spark, inc, qvec, cents, k=5, n_probe=3
        ).collect()
    }
    want = {
        (r.vec_id, r.cos_sim)
        for r in similarity.ivf_topk(
            standing.unionByName(batch), qvec, cents, k=5, n_probe=3
        )
        .select("vec_id", "cos_sim")
        .collect()
    }
    assert got == want


def test_append_ivf_index_lands_in_partition_dirs(spark, tmp_path):
    """Appends must land INSIDE the existing ivf_bucket= partition
    directories (partition pruning keeps working), never a new
    unpartitioned file at the root."""
    import os

    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = load_table(spark, C.SF_SMOKE, "embeddings")
    standing = emb.filter(col("vec_id") % 3 != 0)
    batch = emb.filter(col("vec_id") % 3 == 0)
    cents = similarity.ivf_centroids(standing, k=8)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(standing, path, cents)
    similarity.append_ivf_index(batch, path, cents)
    root_files = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("ivf_bucket=")
    ]
    assert root_files == []
    assert any(f.startswith("ivf_bucket=") for f in os.listdir(path))


def test_ivf_staleness_report_consistency(spark):
    """The report's per-bucket counts must re-derive from an
    independent assignment pass, and every mean lies in [-1, 1]."""
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = load_table(spark, C.SF_SMOKE, "embeddings")
    standing = emb.filter(col("vec_id") % 3 != 0)
    batch = emb.filter(col("vec_id") % 3 == 0)
    cents = similarity.ivf_centroids(standing, k=8)
    rep = similarity.ivf_staleness_report(standing, batch, cents).collect()
    assert sum(r.n_resident for r in rep) == standing.count()
    assert sum(r.n_appended for r in rep) == batch.count()
    assigned = standing.withColumn(
        "cid", similarity.assign_ivf_bucket("embedding", cents)
    )
    want = {r.cid: r.n for r in assigned.groupBy("cid").count()
            .withColumnRenamed("count", "n").collect()}
    got = {r.cid: r.n_resident for r in rep if r.n_resident}
    assert got == want
    for r in rep:
        for m in (r.mean_cos_resident, r.mean_cos_appended):
            if m is not None:
                assert -1.000001 <= m <= 1.000001


# ---------------------------------------------------------------------------
# streaming face of the semantic incremental refresh (q163 twin)
# ---------------------------------------------------------------------------


def _write_vec_batches(spark, emb, src, n_files=3):
    """Split the embedding frame into n time-ordered single-file slices
    (the _write_doc_batches recipe on the vector table)."""
    import glob
    import os
    import shutil
    import time

    rows = emb.count()
    per = rows // n_files
    slices = []
    os.makedirs(src, exist_ok=True)
    for k in range(n_files):
        from pyspark.sql.functions import col

        lo, hi = k * per, (k + 1) * per if k < n_files - 1 else rows
        sl = emb.filter((col("__rn") >= lo) & (col("__rn") < hi)).drop("__rn")
        tmp = src + f"_tmp{k}"
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        [f] = glob.glob(os.path.join(tmp, "*.parquet"))
        dst = os.path.join(src, f"slice{k}.parquet")
        shutil.copyfile(f, dst)
        os.utime(dst, (time.time() + k * 10, time.time() + k * 10))
        slices.append(sl.localCheckpoint(eager=True))
        shutil.rmtree(tmp)
    return slices


@full_tier
def test_streaming_embedding_near_dup_matches_sequential(spark, tmp_path):
    """Draining the vector directory through the streaming semantic
    ingest equals the sequential batch chain over the same slices, the
    survivor store holds exactly the 'new' vectors, the bucket index
    covers exactly the survivors, and a same-checkpoint re-run is a
    no-op."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    import nyc_tlc_analytics_pipeline_spark.plans.catalog_datapipe as cd
    from nyc_tlc_analytics_pipeline_spark.operators import dedup
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable
    from nyc_tlc_analytics_pipeline_spark.streaming.near_dup import (
        run_streaming_embedding_near_dup,
    )

    TH = 0.3
    emb = (
        load_table(spark, C.SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .limit(90)
        .withColumn("__rn", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.orderBy("vec_id")) - 1)
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "vec_src")
    slices = _write_vec_batches(spark, emb, src, n_files=3)

    status_p, vecs_p, buckets_p, ckpt = (
        str(tmp_path / t) for t in ("status", "store", "buckets", "ckpt")
    )

    def run():
        stream = (
            spark.readStream.schema(emb.drop("__rn").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_streaming_embedding_near_dup(
            stream, status_p, vecs_p, buckets_p, ckpt,
            planes=cd._PLANES_8x64, threshold=TH,
        )

    run()
    got = {
        r.vec_id: r.status
        for r in ManifestTable(spark, status_p).read().collect()
    }

    expected = {}
    standing = slices[0].limit(0)
    for sl in slices:
        st = dedup.incremental_embedding_classify(
            sl, standing, cd._PLANES_8x64, TH
        )
        for r in st.select("vec_id", "status").collect():
            expected[r.vec_id] = r.status
        standing = standing.unionByName(
            st.filter(col("status") == "new").drop("status")
        ).localCheckpoint(eager=True)
    assert got == expected

    store_ids = {r.vec_id for r in ManifestTable(spark, vecs_p).read().collect()}
    assert store_ids == {d for d, s in expected.items() if s == "new"}
    bucket_ids = {r.doc for r in ManifestTable(spark, buckets_p).read().collect()}
    assert bucket_ids == store_ids

    v_before = ManifestTable(spark, status_p).latest_version()
    run()
    assert ManifestTable(spark, status_p).latest_version() == v_before


# ---------------------------------------------------------------------------
# b-bit minwise (q167), truncation ladder (q168), padding curve (q169)
# ---------------------------------------------------------------------------


def test_bbit_pack_matches_python(spark):
    """Packed bits re-derive from the signature hex strings, and the
    estimator inverts exactly on identical / disjoint signatures."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators import dedup

    docs = load_table(spark, C.SF_SMOKE, "documents").limit(40)
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", 3, 16)
    rows = sigs.select(
        "doc", "signature", dedup.bbit_pack(F.col("signature"), 16, 1).alias("pk")
    ).collect()
    for r in rows:
        want = sum((int(h[7], 16) % 2) << i for i, h in enumerate(r.signature))
        assert r.pk == want


def test_bbit_jaccard_estimator_bounds(spark):
    """Identical packed signatures estimate J=1; the estimator never
    exceeds 1 and reaches its floor -1 only when every bit differs."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, 0), (0xFFFF, 0xFFFF), (0, 0xFFFF)], "a long, b long"
    )
    got = df.select(
        dedup.bbit_jaccard(F.col("a"), F.col("b"), 16, 1).alias("j")
    ).collect()
    assert got[0].j == 1.0 and got[1].j == 1.0
    assert got[2].j == -1.0


def test_bbit_calibration_consistent_with_q95_columns(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import dedup

    docs = load_table(spark, C.SF_SMOKE, "documents")
    rep = dedup.bbit_calibration(docs, "doc_id", "text").collect()
    assert rep, "calibration produced no buckets"
    for r in rep:
        assert 0 <= r.exact_bucket <= 4
        assert r.n_pairs > 0
        # 1-bit variance is larger but the estimate must stay in [-1, 1]
        assert -1.000001 <= r.avg_est_bbit <= 1.000001
        assert 0 <= r.avg_est_full <= 1.000001


def test_truncation_ladder_sane(spark):
    """dim=64 (full) recall must be exactly 1.0 by construction, and
    every truncated rung strictly below it on this isotropic fixture
    (random embeddings carry no matryoshka prefix structure, so deep
    rungs collapse toward noise — the report's honest message; between
    two DEEP rungs recall is sampling noise, so no monotonicity is
    asserted there)."""
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = load_table(spark, C.SF_SMOKE, "embeddings")
    panel = emb.filter((col("vec_id") % 25 == 0) & (col("vec_id") < 500))
    rep = {
        r.config: r
        for r in similarity.truncation_recall_audit(
            emb, panel, [64, 16, 4], k=5
        ).collect()
    }
    assert rep["dim_064"].mean_recall == 1.0
    assert rep["dim_016"].mean_recall < 1.0
    assert rep["dim_004"].mean_recall < 1.0
    for r in rep.values():
        assert r.n_queries == 20
        assert 0.0 <= r.mean_recall <= 1.0


def test_padding_curve_invariants(spark):
    """B=1 pads everything to the global max; waste is non-increasing
    in B; useful tokens are constant across rungs; all counts match a
    python reference."""
    from nyc_tlc_analytics_pipeline_spark.operators import packing, text

    docs = load_table(spark, C.SF_SMOKE, "documents")
    lens = docs.select("doc_id", text.token_count("text").alias("n"))
    rep = {
        r.n_buckets: r
        for r in packing.padding_efficiency_curve(
            lens, "doc_id", "n", seq_cap=128, bucket_counts=[1, 2, 4, 8]
        ).collect()
    }
    py = sorted(
        (min(r.n, 128), r.doc_id) for r in lens.collect()
    )
    n = len(py)
    assert rep[1].n_docs == n
    assert rep[1].useful_tokens == sum(l for l, _ in py)
    assert rep[1].padded_tokens == max(l for l, _ in py) * n
    prev = None
    for b in (1, 2, 4, 8):
        r = rep[b]
        assert r.useful_tokens == rep[1].useful_tokens
        # python reference for the rank bucketing
        padded = 0
        for bi in range(b):
            members = [py[i][0] for i in range(n) if (i * b) // n == bi]
            if members:
                padded += max(members) * len(members)
        assert r.padded_tokens == padded, b
        if prev is not None:
            assert r.padded_tokens <= prev
        prev = r.padded_tokens


def test_contamination_union_gate_consistency(spark):
    """The union report's per-group counts must re-derive from the two
    constituent detectors run independently, and the identities
    n_both <= min(n_lexical, n_semantic) <= n_either <= n_train hold."""
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import decontam

    docs = load_table(spark, C.SF_SMOKE, "documents")
    emb = load_table(spark, C.SF_SMOKE, "embeddings")
    bench_d = (col("doc_id") % 50 == 0) & (col("doc_id") < 5000)
    bench_v = (col("vec_id") % 50 == 0) & (col("vec_id") < 5000)
    cd, bd = docs.filter(~bench_d), docs.filter(bench_d)
    cv, bv = emb.filter(~bench_v), emb.filter(bench_v)
    rep = decontam.contamination_union_report(
        cd, bd, cv, bv, n=4, threshold=0.3
    ).collect()
    assert rep
    lex_ids = {r.doc_id for r in decontam.flag_contaminated(cd, bd, 4).collect()}
    sem_ids = {
        r.vec_id
        for r in decontam.semantic_contamination(cv, bv, 0.3)
        .filter(col("contaminated"))
        .collect()
    }
    by_lang = {}
    for r in cd.select("doc_id", "lang").collect():
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    for row in rep:
        ids = by_lang[row.lang]
        assert row.n_train == len(ids)
        assert row.n_lexical == sum(1 for i in ids if i in lex_ids)
        assert row.n_semantic == sum(1 for i in ids if i in sem_ids)
        assert row.n_both == sum(1 for i in ids if i in lex_ids and i in sem_ids)
        assert row.n_either == sum(1 for i in ids if i in lex_ids or i in sem_ids)
        assert row.n_both <= min(row.n_lexical, row.n_semantic)
        assert max(row.n_lexical, row.n_semantic) <= row.n_either <= row.n_train


def test_streaming_ivf_ingest_matches_direct_assignment(spark, tmp_path):
    """Draining vector slices through the streaming IVF ingest leaves a
    manifest whose (vec_id, cid) set equals a direct assignment of the
    union under the same frozen centroids, and a same-checkpoint re-run
    is a no-op (replay idempotency — the raw mode=append failure mode)."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators import similarity
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable
    from nyc_tlc_analytics_pipeline_spark.streaming.near_dup import (
        run_streaming_ivf_ingest,
    )

    emb = (
        load_table(spark, C.SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .limit(90)
        .withColumn("__rn", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.orderBy("vec_id")) - 1)
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "vsrc")
    _write_vec_batches(spark, emb, src, n_files=3)
    cents = similarity.ivf_centroids(emb, k=8)
    idx_p, ckpt = str(tmp_path / "ivfidx"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(emb.drop("__rn").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_streaming_ivf_ingest(stream, idx_p, ckpt, cents)

    run()
    got = {
        (r.vec_id, r.cid)
        for r in ManifestTable(spark, idx_p).read().select("vec_id", "cid").collect()
    }
    want = {
        (r.vec_id, r.cid)
        for r in emb.drop("__rn")
        .withColumn("cid", similarity.assign_ivf_bucket("embedding", cents))
        .select("vec_id", "cid")
        .collect()
    }
    assert got == want

    v_before = ManifestTable(spark, idx_p).latest_version()
    run()
    assert ManifestTable(spark, idx_p).latest_version() == v_before


def test_adaptive_probe_monotone_in_delta(spark):
    """A larger gap tolerance can only ADD probed cells: candidates and
    recall are monotone non-decreasing in delta, and at delta >= 2 (the
    cosine range) the adaptive rule degenerates to probing everything —
    recall 1.0 like an exhaustive scan."""
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    emb = _emb(spark)
    panel = emb.filter((col("vec_id") % 25 == 0) & (col("vec_id") < 500))
    cents = similarity.ivf_centroids(emb, k=8)
    out = {}
    for delta in (0.05, 0.3, 2.0):
        rep = {
            r.config: r
            for r in similarity.ivf_adaptive_probe_report(
                emb, panel, cents, fixed_n_probe=2, delta=delta, k=5
            ).collect()
        }
        out[delta] = rep[f"adaptive_{delta}"]
        assert rep[f"fixed_2"].n_queries == 20
    assert out[0.05].mean_candidates <= out[0.3].mean_candidates <= out[2.0].mean_candidates
    assert out[0.05].mean_recall <= out[0.3].mean_recall + 1e-9
    assert out[2.0].mean_recall == 1.0


def test_hard_negatives_excludes_anchor_and_near_dups(spark):
    """No mined negative may be the anchor itself or share a band
    bucket with it (the conservative exclusion), scores must re-derive
    as BM25 over the anchor's selected terms, and a data-sized anchor
    frame must fail closed."""
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import dedup as dd
    from nyc_tlc_analytics_pipeline_spark.operators import retrieval

    docs = load_table(spark, C.SF_SMOKE, "documents")
    anchors = docs.filter((col("doc_id") % 25 == 0) & (col("doc_id") < 500))
    out = retrieval.hard_negatives(docs, anchors, k=3, m_terms=8).collect()
    assert out
    sigs = dd.minhash_signatures(docs, "doc_id", "text", 3, 16)
    bb = dd.banded_buckets(sigs, 4, 4)
    buckets = {}
    for r in bb.collect():
        buckets.setdefault(r.doc, set()).add((r.band, r.bucket))
    anchor_ids = {r.doc_id for r in anchors.select("doc_id").collect()}
    for r in out:
        assert r.anchor_id in anchor_ids
        assert r.neg_id != r.anchor_id
        assert not (buckets[r.anchor_id] & buckets[r.neg_id]), (
            r.anchor_id, r.neg_id)
        assert 1 <= r.rank <= 3
        assert r.score > 0

    class Huge:
        @property
        def _jdf(self):
            raise RuntimeError("no estimate")

    with pytest.raises(ValueError, match="bounded batch of anchors"):
        retrieval.hard_negatives(docs, Huge())


def test_contamination_delta_consistency(spark):
    """n_newly must equal the docs flagged by the new bench but not the
    old, re-derived from the constituent detector; with old ⊆ new the
    old-flag set is a subset of the new-flag set."""
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import decontam

    docs = load_table(spark, C.SF_SMOKE, "documents")
    new_p = (col("doc_id") % 50 == 0) & (col("doc_id") < 5000)
    old_p = (col("doc_id") % 100 == 0) & (col("doc_id") < 5000)
    corpus = docs.filter(~new_p)
    rep = decontam.contamination_delta_report(
        corpus, docs.filter(old_p), docs.filter(new_p), n=4
    ).collect()
    assert rep
    old_ids = {
        r.doc_id
        for r in decontam.flag_contaminated(corpus, docs.filter(old_p), 4).collect()
    }
    new_ids = {
        r.doc_id
        for r in decontam.flag_contaminated(corpus, docs.filter(new_p), 4).collect()
    }
    assert old_ids <= new_ids  # old bench grams ⊆ new bench grams
    by_lang = {}
    for r in corpus.select("doc_id", "lang").collect():
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    for row in rep:
        ids = by_lang[row.lang]
        assert row.n_old == sum(1 for i in ids if i in old_ids)
        assert row.n_new == sum(1 for i in ids if i in new_ids)
        assert row.n_newly == sum(
            1 for i in ids if i in new_ids and i not in old_ids
        )
        assert row.n_newly == row.n_new - row.n_old  # subset identity


# ---------------------------------------------------------------------------
# segment-level dedup (q174) — the CCNet line-dedup shape
# ---------------------------------------------------------------------------


def test_segment_table_reconstructs_tokens(spark):
    """Concatenating a document's segments in seg_idx order yields the
    original token stream, and seg_tokens sums to the token count (the
    last segment keeps its partial tail)."""
    docs = load_table(spark, C.SF_SMOKE, "documents")
    segs = dedup.segment_table(docs, seg_len=8)
    from pyspark.sql import functions as F

    rebuilt = (
        segs.orderBy("doc_id", "seg_idx")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_idx", "seg_text"))
                    ),
                    lambda s: s["seg_text"],
                ),
                " ",
            ).alias("joined"),
            F.sum("seg_tokens").alias("n_tok"),
        )
    )
    orig = docs.select(
        "doc_id",
        F.array_join(F.split(F.lower("text"), r"\s+"), " ").alias("expect"),
        F.size(F.split(F.lower("text"), r"\s+")).alias("expect_tok"),
    )
    bad = (
        rebuilt.join(orig, "doc_id")
        .where(
            (F.col("joined") != F.col("expect"))
            | (F.col("n_tok") != F.col("expect_tok"))
        )
        .count()
    )
    assert bad == 0


def test_segment_dedup_keep_first_python_reference(spark):
    """The per-language report matches a pure-Python replay of the
    keep-first rule and the boilerplate gate on a hand-made corpus with
    engineered cross-document segment repeats."""
    seg_len = 3
    rows = [
        (1, "en", "a b c x y z"),          # segs: 'a b c', 'x y z'
        (2, "en", "a b c q r s"),          # 'a b c' repeats (dup)
        (3, "de", "a b c x y z"),          # both repeat (2 dups)
        (4, "de", "u v w a b c extra"),    # 'a b c' at idx2 (dup), tail 'extra'
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        r["lang"]: r.asDict()
        for r in dedup.segment_dedup_report(df, seg_len=seg_len, boiler_df=3).collect()
    }

    # python replay
    occs = []  # (doc, lang, idx, seg, n_tok)
    for doc, lang, text in rows:
        tk = text.lower().split()
        for i in range(0, len(tk), seg_len):
            seg = " ".join(tk[i : i + seg_len])
            occs.append((doc, lang, i // seg_len + 1, seg, len(tk[i : i + seg_len])))
    first = {}
    docs_per_seg = {}
    for doc, lang, idx, seg, n in sorted(occs):
        first.setdefault(seg, (doc, idx))
        docs_per_seg.setdefault(seg, set()).add(doc)
    import collections

    exp = collections.defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    for doc, lang, idx, seg, n in occs:
        e = exp[lang]
        e[0] = e[0]  # docs counted separately
        e[1] += 1
        dup = first[seg] != (doc, idx)
        e[2] += int(dup)
        e[3] += int(len(docs_per_seg[seg]) >= 3)
        e[4] += n
        e[5] += n * int(dup)
    for lang in exp:
        exp[lang][0] = len({d for d, l, *_ in occs if l == lang})
    for lang, e in exp.items():
        g = got[lang]
        assert g["n_docs"] == e[0]
        assert g["n_segments"] == e[1]
        assert g["n_dup_segments"] == e[2]
        assert g["n_boiler_segments"] == e[3]
        assert g["total_tokens"] == e[4]
        assert g["removed_tokens"] == e[5]
        assert g["removed_pct"] == round(100.0 * e[5] / e[4] + 1e-9, 4)


def test_segment_dedup_layout_invariant(spark):
    """Keep-first is defined by (doc_id, seg_idx) order, not layout:
    the report is identical after an adversarial repartition."""
    docs = load_table(spark, C.SF_SMOKE, "documents")
    a = sorted(
        map(str, dedup.segment_dedup_report(docs, seg_len=8).collect())
    )
    b = sorted(
        map(
            str,
            dedup.segment_dedup_report(docs.repartition(13), seg_len=8).collect(),
        )
    )
    assert a == b


# ---------------------------------------------------------------------------
# curriculum schedule (q175)
# ---------------------------------------------------------------------------


def test_curriculum_stages_balanced_and_monotone(spark):
    """Equal-frequency stages: sizes differ by at most 1, every doc is
    assigned, and the quality envelopes are non-overlapping and
    descending (stage 0 = cleanest)."""
    from nyc_tlc_analytics_pipeline_spark.operators import curriculum

    docs = load_table(spark, C.SF_SMOKE, "documents")
    rep = curriculum.curriculum_report(docs, n_stages=4).collect()
    assert [r.stage for r in rep] == [0, 1, 2, 3]
    sizes = [r.n_docs for r in rep]
    assert sum(sizes) == docs.count()
    assert max(sizes) - min(sizes) <= 1
    for a, b in zip(rep, rep[1:]):
        assert a.min_quality >= b.max_quality
        assert a.avg_quality >= b.avg_quality


def test_curriculum_layout_and_salt_behavior(spark):
    """Stage membership is layout-invariant and salt-independent; the
    within-stage head order DOES move with the salt (it is the shuffle)."""
    from nyc_tlc_analytics_pipeline_spark.operators import curriculum

    docs = load_table(spark, C.SF_SMOKE, "documents")
    base = curriculum.curriculum_schedule(docs, n_stages=4)
    repart = curriculum.curriculum_schedule(docs.repartition(11), n_stages=4)
    m1 = {r.doc_id: r.stage for r in base.collect()}
    m2 = {r.doc_id: r.stage for r in repart.collect()}
    assert m1 == m2
    salted = curriculum.curriculum_schedule(docs, n_stages=4, salt="other")
    m3 = {r.doc_id: r.stage for r in salted.collect()}
    assert m1 == m3  # stages don't depend on the shuffle salt
    h1 = curriculum.curriculum_report(docs, n_stages=4).collect()
    h2 = curriculum.curriculum_report(docs, n_stages=4, salt="other").collect()
    assert [r.first_id for r in h1] != [r.first_id for r in h2]


def test_curriculum_single_stage_degenerates_to_corpus(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import curriculum

    docs = load_table(spark, C.SF_SMOKE, "documents")
    rep = curriculum.curriculum_report(docs, n_stages=1).collect()
    assert len(rep) == 1 and rep[0].n_docs == docs.count()


# ---------------------------------------------------------------------------
# soft dedup — repeat discounting (q176)
# ---------------------------------------------------------------------------


@full_tier
def test_soft_dedup_python_reference(spark):
    """Hand-built clusters: discount weights, cluster counts and the
    three token prices match an explicit python replay."""
    from pyspark.sql import functions as F

    rows = [
        (1, "en", "a b c d"),   # cluster {1,2,3}: j=1,2,3
        (2, "en", "w x y z"),
        (3, "de", "p q"),
        (4, "de", "r s t"),     # singleton
        (5, "en", "m n o"),     # cluster {5,6}
        (6, "en", "u v"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["doc_a", "doc_b"]
    )
    got = {r.lang: r.asDict() for r in dedup.soft_dedup_report(docs, pairs).collect()}
    # python replay: clusters {1,2,3}, {4}, {5,6}; rank by doc_id
    toks = {1: 4, 2: 4, 3: 2, 4: 3, 5: 3, 6: 2}
    jmap = {1: 1, 2: 2, 3: 3, 4: 1, 5: 1, 6: 2}
    lang = {1: "en", 2: "en", 3: "de", 4: "de", 5: "en", 6: "en"}
    clus = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}
    import collections

    exp = collections.defaultdict(lambda: dict(n=0, cl=set(), raw=0, uniq=0, rep=0, soft=0.0))
    for d in toks:
        e = exp[lang[d]]
        e["n"] += 1
        e["cl"].add(clus[d])
        e["raw"] += toks[d]
        e["uniq"] += toks[d] * (jmap[d] == 1)
        e["rep"] += jmap[d] > 1
        e["soft"] += 0.5 ** (jmap[d] - 1) * toks[d]
    for lg, e in exp.items():
        g = got[lg]
        assert g["n_docs"] == e["n"]
        assert g["n_clusters"] == len(e["cl"])
        assert g["raw_tokens"] == e["raw"]
        assert g["unique_tokens"] == e["uniq"]
        assert g["n_repeat_docs"] == e["rep"]
        assert g["soft_tokens"] == round(e["soft"] + 1e-9, 4)
        assert g["soft_utilization"] == round(e["soft"] / e["raw"] + 1e-9, 6)


def test_soft_dedup_bounds_and_no_pairs_identity(spark):
    """unique <= soft <= raw always; with an empty pair frame every doc
    is a singleton and the three prices coincide."""
    docs = load_table(spark, C.SF_SMOKE, "documents")
    empty = docs.limit(0).selectExpr("doc_id AS doc_a", "doc_id AS doc_b")
    for r in dedup.soft_dedup_report(docs, empty).collect():
        assert r.unique_tokens == r.raw_tokens == r.soft_tokens
        assert r.n_clusters == r.n_docs and r.n_repeat_docs == 0
        assert r.soft_utilization == 1.0
    pairs = spark.createDataFrame([(0, 1)], ["doc_a", "doc_b"])
    for r in dedup.soft_dedup_report(docs, pairs).collect():
        assert r.unique_tokens <= r.soft_tokens <= r.raw_tokens


# ---------------------------------------------------------------------------
# shuffle-order audit (q177)
# ---------------------------------------------------------------------------


def test_shuffle_audit_random_order_near_expectation(spark):
    """Under the md5 shuffle every source's adjacent-pair count should
    sit near its permutation expectation; pair totals are exact."""
    from nyc_tlc_analytics_pipeline_spark.operators import curriculum

    docs = load_table(spark, C.SF_SMOKE, "documents")
    rep = curriculum.shuffle_audit(docs).collect()
    n = docs.count()
    assert sum(r.n_docs for r in rep) == n
    # total adjacent pairs = N-1; same-source subset is bounded by it
    assert sum(r.same_adj_pairs for r in rep) <= n - 1
    for r in rep:
        # 20 sources, ~25 docs each at smoke scale: expectation ~1.2;
        # a healthy shuffle stays within a loose Poisson envelope
        assert r.same_adj_pairs <= max(10.0, 6 * r.expected_pairs)


def test_shuffle_audit_detects_sorted_order(spark):
    """Feeding the audit an ORDER-CARRYING hash (one that reproduces
    source-sorted ingestion order) must blow the ratio up: same-source
    adjacency ~= n_g - 1 per group, far above n_g(n_g-1)/N."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators import curriculum, layout

    docs = load_table(spark, C.SF_SMOKE, "documents")
    # monkey-shuffle: rank by (source, doc_id) instead of a hash by
    # building an id whose hash order IS source order — simplest honest
    # probe: remap doc_id to the source-sorted global rank, then audit
    # with salt chosen so the hash of the REMAPPED id is monotone...
    # hashes are never monotone, so instead verify directly against the
    # operator's own machinery: compute adjacency on the sorted rank.
    ranked = layout.global_row_number(
        docs.select("doc_id", "source"),
        [F.col("source").asc(), F.col("doc_id").asc()],
        "rank",
    )
    left = ranked.select(F.col("rank").alias("r"), F.col("source").alias("ga"))
    right = ranked.select((F.col("rank") - 1).alias("r"), F.col("source").alias("gb"))
    same = left.join(right, "r").filter("ga = gb").count()
    n = docs.count()
    n_sources = docs.select("source").distinct().count()
    assert same == n - n_sources  # every within-source adjacency survives
    # vs the shuffled audit's total, which is an order of magnitude lower
    shuffled_same = sum(
        r.same_adj_pairs for r in curriculum.shuffle_audit(docs).collect()
    )
    assert shuffled_same * 5 < same


# ---------------------------------------------------------------------------
# shard-balance audit (q178)
# ---------------------------------------------------------------------------


def test_shard_balance_conservation_and_bounds(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import layout

    docs = load_table(spark, C.SF_SMOKE, "documents")
    rep = layout.shard_balance_report(docs, n_shards=8).collect()
    assert {r.strategy for r in rep} == {"rendezvous", "hashmod", "idrange"}
    n = docs.count()
    total_w = docs.agg({"n_chars": "sum"}).head()[0]
    for r in rep:
        assert r.n_shards == 8
        assert r.total_rows == n
        assert r.total_bytes == total_w
        assert 0.0 <= r.gini < 1.0
        assert r.max_over_mean >= 1.0
        assert r.min_shard_bytes <= r.max_shard_bytes


def test_shard_balance_detects_id_correlated_skew(spark):
    """Weights proportional to id: hash strategies stay balanced, the
    id-range strategy's shard sums ramp linearly (analytic Gini for a
    linear ramp over 8 shards = 168/512 ~ 0.328)."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators import layout

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.col("id").alias("n_chars")
    )
    rep = {r.strategy: r for r in layout.shard_balance_report(df, 8).collect()}
    assert rep["idrange"].gini > 0.25
    assert rep["hashmod"].gini < 0.1
    assert rep["rendezvous"].gini < 0.1
    assert rep["idrange"].gini > 3 * rep["hashmod"].gini


def test_shard_balance_empty_shards_stay_in_denominator(spark):
    """3 rows over 8 shards: at least 5 shards are empty, n_shards must
    still read 8 and min bytes 0 — the spine keeps empties visible."""
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators import layout

    df = spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit(100).alias("n_chars")
    )
    for r in layout.shard_balance_report(df, 8).collect():
        assert r.n_shards == 8
        assert r.min_shard_bytes == 0
        assert r.gini > 0.5


# ---------------------------------------------------------------------------
# ingestion control chart (q179)
# ---------------------------------------------------------------------------


def test_control_chart_flags_injected_shift(spark):
    """A synthetic feed with a level shift after the reference window
    must flag exactly the shifted days; the steady days stay inside the
    limits."""
    import datetime

    from nyc_tlc_analytics_pipeline_spark.operators import profile

    rows = []
    # reference: 10 days of N(100, ~1); monitor: 3 steady days then 3
    # shifted by +50 (way past 3 sigma of the day-mean spread)
    for d in range(1, 17):
        shift = 50.0 if d >= 14 else 0.0
        wobble = (d % 3 - 1) * 0.3  # day-mean spread so ref_sd > 0
        for i in range(20):
            rows.append(
                (
                    datetime.datetime(2024, 1, d, 8, 0, i),
                    100.0 + (i % 5 - 2) * 0.5 + wobble + shift,
                )
            )
    df = spark.createDataFrame(rows, ["ts", "value"])
    rep = profile.control_chart(df, ref_end="2024-01-11").collect()
    assert len(rep) == 6
    by_day = {r.day.day: r for r in rep}
    for d in (11, 12, 13):
        assert not by_day[d].out_of_control
    for d in (14, 15, 16):
        assert by_day[d].out_of_control
        assert by_day[d].z_score > 3
    assert all(r.ref_days == 10 for r in rep)


def test_control_chart_zero_variance_reference_yields_null_z(spark):
    """A constant reference window has sd=0 — z must be NULL (nullif),
    never a division error or an inf flag."""
    import datetime

    from nyc_tlc_analytics_pipeline_spark.operators import profile

    rows = [
        (datetime.datetime(2024, 1, d, 12, 0, 0), 7.0) for d in range(1, 6)
    ] + [(datetime.datetime(2024, 1, 6, 12, 0, 0), 9.0)]
    df = spark.createDataFrame(rows, ["ts", "value"])
    rep = profile.control_chart(df, ref_end="2024-01-06").collect()
    assert len(rep) == 1
    assert rep[0].z_score is None and rep[0].out_of_control is None


# ---------------------------------------------------------------------------
# incremental segment dedup (q180)
# ---------------------------------------------------------------------------


def test_incremental_segment_classify_python_replay(spark):
    seg_len = 3
    standing = spark.createDataFrame(
        [(1, "en", "a b c x y z"), (2, "de", "q r s")],
        ["doc_id", "lang", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "en", "a b c new one two"),   # seg1 dup_vs_corpus, seg2 new
            (11, "en", "new one two a b c"),   # seg1 dup_in_batch(10's seg2? no:
            #   'new one two' first occurs in doc10 idx2 -> 11's idx1 is dup_in_batch;
            #   11's seg2 'a b c' is dup_vs_corpus
            (12, "de", "fresh stuff here"),    # new
        ],
        ["doc_id", "lang", "text"],
    )
    got = {
        (r.doc_id, r.seg_idx): r.status
        for r in dedup.incremental_segment_classify(
            batch, dedup.segment_index_table(standing, seg_len=seg_len),
            seg_len=seg_len,
        ).collect()
    }
    assert got == {
        (10, 1): "dup_vs_corpus",
        (10, 2): "new",
        (11, 1): "dup_in_batch",
        (11, 2): "dup_vs_corpus",
        (12, 1): "new",
    }


def test_segment_index_persisted_equals_derived(spark, tmp_path):
    """The parquet-persisted index classifies identically to the
    in-plan derivation — the q163 persisted==derived contract."""
    docs = load_table(spark, C.SF_SMOKE, "documents")
    standing = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")
    idx = dedup.segment_index_table(standing)
    path = str(tmp_path / "seg_index")
    idx.write.parquet(path)
    a = sorted(
        map(
            str,
            dedup.incremental_segment_classify(
                batch, spark.read.parquet(path)
            ).select("doc_id", "seg_idx", "status").collect(),
        )
    )
    b = sorted(
        map(
            str,
            dedup.incremental_segment_classify(batch, idx)
            .select("doc_id", "seg_idx", "status")
            .collect(),
        )
    )
    assert a == b


def test_incremental_segment_disjoint_batch_is_all_new(spark):
    standing = spark.createDataFrame(
        [(1, "en", "a b c d e f")], ["doc_id", "lang", "text"]
    )
    batch = spark.createDataFrame(
        [(2, "en", "g h i j k l")], ["doc_id", "lang", "text"]
    )
    rep = dedup.incremental_segment_report(batch, standing, seg_len=3).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r.n_new == r.n_segments == 2
    assert r.removable_tokens == 0 and r.removable_pct == 0.0


# ---------------------------------------------------------------------------
# streaming segment dedup (q180's streaming face)
# ---------------------------------------------------------------------------


def test_streaming_segment_dedup_matches_sequential_replay(spark, tmp_path):
    """Three micro-batches through the streaming face produce exactly
    the statuses a sequential batch replay of incremental_segment_
    classify produces with the same accumulated index — and a rerun on
    the same checkpoint appends nothing (exactly-once)."""
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable
    from nyc_tlc_analytics_pipeline_spark.streaming.near_dup import (
        run_streaming_segment_dedup,
    )
    from .test_round8_ops import _write_doc_batches

    docs = load_table(spark, C.SF_SMOKE, "documents").limit(90).cache()
    src = str(tmp_path / "docs_src")
    _write_doc_batches(spark, docs, src, n_files=3)
    status_p, index_p = str(tmp_path / "status"), str(tmp_path / "segidx")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_streaming_segment_dedup(stream, status_p, index_p, str(tmp_path / "ck"))

    got = {
        (r.doc_id, r.seg_idx): r.status
        for r in ManifestTable(spark, status_p).read().collect()
    }

    # sequential replay with the same batch split/order
    index = spark.createDataFrame(
        [], "seg_hash string, first_doc long, first_idx int"
    )
    want = {}
    for k in range(3):
        b = docs.filter(col("doc_id") % 3 == k)
        st = dedup.incremental_segment_classify(b, index).localCheckpoint()
        for r in st.select("doc_id", "seg_idx", "status").collect():
            want[(r.doc_id, r.seg_idx)] = r.status
        index = index.unionByName(
            st.filter(col("status") == "new").selectExpr(
                "__h AS seg_hash", "doc_id AS first_doc", "seg_idx AS first_idx"
            )
        ).localCheckpoint()
    assert got == want

    # exactly-once: a rerun on the drained source + same checkpoint is a no-op
    n_status = ManifestTable(spark, status_p).read().count()
    n_index = ManifestTable(spark, index_p).read().count()
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_streaming_segment_dedup(stream2, status_p, index_p, str(tmp_path / "ck"))
    assert ManifestTable(spark, status_p).read().count() == n_status
    assert ManifestTable(spark, index_p).read().count() == n_index


# ---------------------------------------------------------------------------
# CLI verbs: segment-dedup / curriculum
# ---------------------------------------------------------------------------


def test_cli_segment_dedup_and_curriculum_verbs(spark, tmp_path, capsys):
    import json

    from nyc_tlc_analytics_pipeline_spark.cli import main

    docs = load_table(spark, C.SF_SMOKE, "documents").limit(120)
    dp = str(tmp_path / "docs")
    docs.write.parquet(dp)
    wh = ["--warehouse-dir", str(tmp_path / "wh")]

    rc = main(wh + ["segment-dedup", "--docs", dp])
    rep = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert all(
        v["n_segments"] >= v["n_dup_segments"] >= 0 for v in rep.values()
    )
    direct = {
        r.lang: r.n_segments
        for r in dedup.segment_dedup_report(spark.read.parquet(dp)).collect()
    }
    assert {k: v["n_segments"] for k, v in rep.items()} == direct

    rc = main(wh + ["curriculum", "--docs", dp, "--stages", "3"])
    rep = json.loads(capsys.readouterr().out)
    assert rc == 0 and set(rep) == {"0", "1", "2"}
    assert sum(v["n_docs"] for v in rep.values()) == 120

    bp = str(tmp_path / "batch")
    docs.selectExpr("doc_id + 100000 AS doc_id", "text", "lang", "source",
                    "n_chars").write.parquet(bp)
    rc = main(wh + ["segment-dedup", "--docs", dp, "--batch", bp])
    rep = json.loads(capsys.readouterr().out)
    assert rc == 0
    # the batch is a verbatim copy at shifted ids: every segment hash is
    # already in the standing index
    assert all(v["n_new"] == 0 for v in rep.values())
    assert all(v["removable_pct"] == 100.0 for v in rep.values())


def test_compact_ivf_manifest_to_index_probe_equality(spark, tmp_path):
    """Compacting the streaming-ingest manifest into the ivf_bucket=
    partition-dir layout must preserve every (vec, assignment) and
    probe identically to an index written directly by write_ivf_index
    under the same frozen centroids."""
    from pyspark.sql.functions import col

    from nyc_tlc_analytics_pipeline_spark.operators import similarity
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from nyc_tlc_analytics_pipeline_spark.streaming.near_dup import (
        compact_ivf_manifest_to_index,
        run_streaming_ivf_ingest,
    )

    emb = (
        _emb(spark)
        .limit(120)
        .withColumn("__rn", F.row_number().over(Window.orderBy("vec_id")) - 1)
        .localCheckpoint(eager=True)
    )
    cents = similarity.ivf_centroids(emb.drop("__rn"), k=8)
    src = str(tmp_path / "vec_src")
    _write_vec_batches(spark, emb, src, n_files=3)
    emb = emb.drop("__rn")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    man_p = str(tmp_path / "ivf_manifest")
    run_streaming_ivf_ingest(stream, man_p, str(tmp_path / "ck"), cents)

    idx_p = str(tmp_path / "ivf_compacted")
    n = compact_ivf_manifest_to_index(spark, man_p, idx_p)
    assert n == 120

    direct_p = str(tmp_path / "ivf_direct")
    similarity.write_ivf_index(emb, direct_p, cents)
    a = sorted(
        (r.vec_id, r.ivf_bucket)
        for r in spark.read.parquet(idx_p).select("vec_id", "ivf_bucket").collect()
    )
    b = sorted(
        (r.vec_id, r.ivf_bucket)
        for r in spark.read.parquet(direct_p).select("vec_id", "ivf_bucket").collect()
    )
    assert a == b
    # probe equality through the partition-pruned path
    q = [float(x) for x in emb.limit(1).collect()[0].embedding]
    pa = [
        r.vec_id
        for r in similarity.read_ivf_probe(spark, idx_p, q, cents, k=5).collect()
    ]
    pb = [
        r.vec_id
        for r in similarity.read_ivf_probe(spark, direct_p, q, cents, k=5).collect()
    ]
    assert pa == pb


# ---------------------------------------------------------------------------
# curriculum-packed shards (q182)
# ---------------------------------------------------------------------------


def test_curriculum_packed_shards_invariants(spark):
    """Pack accounting per stage: packs can't beat the information bound
    ceil(tokens/budget) (equality per sub-stream), fill <= 100%, docs
    conserved vs the schedule, and the report is layout-invariant."""
    import math

    from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES

    docs_n = load_table(spark, C.SF_SMOKE, "documents").count()
    rep = QUERIES["q182_curriculum_packed_shards"].build(spark, C.SF_SMOKE).collect()
    assert [r.stage for r in rep] == [0, 1, 2, 3]
    assert sum(r.n_docs for r in rep) == docs_n
    for r in rep:
        assert 0 < r.fill_pct <= 100.0
        # per-stream tail waste bounds the pack count: at most one
        # partial pack per sub-stream
        lo = math.ceil(r.total_tokens / 512)
        assert lo <= r.n_packs <= lo + r.n_streams
        assert 0 <= r.n_straddling <= r.n_docs


# ---------------------------------------------------------------------------
# contract audit (q183)
# ---------------------------------------------------------------------------


def test_contract_audit_detects_every_violation_class(spark):
    """Engineered fixture: a missing derived row, a duplicated key, a
    wrong-length payload and an orphan — each shows up in exactly the
    right counter."""
    from nyc_tlc_analytics_pipeline_spark.operators import profile

    left = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de"), (4, "de")], ["doc_id", "lang"]
    )
    right = spark.createDataFrame(
        [
            (1, [0.1] * 4),        # ok
            (2, [0.1] * 3),        # wrong length
            (3, [0.2] * 4),        # ok (but duplicated below)
            (3, [0.3] * 4),        # duplicate key
            (9, [0.4] * 4),        # orphan
        ],                          # doc 4: missing
        ["vec_id", "embedding"],
    )
    rep = {
        r.grp: r
        for r in profile.contract_audit(
            left, right, "doc_id", "vec_id", "lang",
            right_len_col="embedding", expected_len=4,
        ).collect()
    }
    en, de, al = rep["en"], rep["de"], rep["__all__"]
    assert (en.n_primary, en.n_matched, en.n_dup_keys, en.n_bad_payload) == (2, 2, 0, 1)
    assert (de.n_primary, de.n_matched, de.n_dup_keys, de.n_bad_payload) == (2, 1, 1, 0)
    assert de.coverage_pct == 50.0
    assert (al.n_primary, al.n_matched, al.n_orphans) == (4, 3, 1)
    assert rep["en"].n_orphans == 0  # orphans ride only the rollup row


def test_contract_audit_clean_fixture_is_fully_covered(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import profile

    docs = load_table(spark, C.SF_SMOKE, "documents")
    emb = load_table(spark, C.SF_SMOKE, "embeddings")
    rep = profile.contract_audit(
        docs, emb, "doc_id", "vec_id", "lang",
        right_len_col="embedding", expected_len=64,
    ).collect()
    al = [r for r in rep if r.grp == "__all__"][0]
    assert al.coverage_pct == 100.0 and al.n_dup_keys == 0
    assert al.n_bad_payload == 0 and al.n_orphans == 0


def test_segment_table_null_text_and_custom_group(spark):
    """NULL-text docs yield no segments (the DuckDB convention — the
    naive sequence(1, size(null)) would emit two phantom rows with
    seg_tokens=-1), and the segment APIs work grouped by any column or
    by none at all."""
    df = spark.createDataFrame(
        [(1, "en", "s1", None), (2, "en", "s2", "a b c")],
        ["doc_id", "lang", "source", "text"],
    )
    segs = dedup.segment_table(df, seg_len=2).collect()
    assert {r.doc_id for r in segs} == {2}
    assert all(r.seg_tokens > 0 for r in segs)
    rep = dedup.segment_dedup_report(df, seg_len=2, group_col="source").collect()
    assert [r.source for r in rep] == ["s2"]
    bare = dedup.segment_table(
        df.select("doc_id", "text"), seg_len=2, group_col=None
    )
    assert set(bare.columns) == {"doc_id", "seg_idx", "seg_text", "seg_tokens"}
    inc = dedup.incremental_segment_report(
        df.filter("doc_id = 2"), df.filter("doc_id = 1"), seg_len=2,
        group_col="source",
    ).collect()
    assert [r.source for r in inc] == ["s2"] and inc[0].n_new == 2


# ---------------------------------------------------------------------------
# session transcript assembly (q184)
# ---------------------------------------------------------------------------


def test_session_transcripts_python_replay(spark):
    """Hand-built log: session boundaries, transcript order (out-of-
    order arrival must not change assembly) and durations match an
    explicit replay."""
    import datetime
    import hashlib

    from nyc_tlc_analytics_pipeline_spark.operators import text as text_ops

    T = lambda m, s=0: datetime.datetime(2024, 1, 1, 10, m, s)
    rows = [
        # user 1, session 1: two events 5 min apart — NOTE out-of-order ids
        (2, T(5), 1, "b"),
        (1, T(0), 1, "a"),
        # user 1, session 2: 40 min gap
        (3, T(46), 1, "c"),
        # user 2: one session, same-second tie broken by event_id
        (10, T(0, 30), 2, "y"),
        (9, T(0, 30), 2, "x"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.duration_s, r.transcript_fp)
        for r in text_ops.session_transcripts(ev).collect()
    }
    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()
    assert got == {
        (1, 1): (2, 300, md5("a b")),
        (1, 2): (1, 0, md5("c")),
        (2, 1): (2, 0, md5("x y")),
    }


def test_session_transcripts_layout_invariant(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import text as text_ops

    ev = load_table(spark, C.SF_SMOKE, "events")
    a = sorted(map(str, text_ops.session_transcripts(ev).collect()))
    b = sorted(
        map(str, text_ops.session_transcripts(ev.repartition(17)).collect())
    )
    assert a == b


# ---------------------------------------------------------------------------
# segment removal writer (q185)
# ---------------------------------------------------------------------------


def test_remove_duplicated_segments_consistent_with_report(spark):
    """The writer and the report share the keep-first rule: tokens the
    writer drops per language equal the report's removed_tokens, and a
    dup-free document round-trips to its normalized text."""
    from pyspark.sql import functions as F

    docs = load_table(spark, C.SF_SMOKE, "documents")
    cleaned = dedup.remove_duplicated_segments(docs, seg_len=8)
    orig = docs.select(
        "doc_id", "lang",
        F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("orig"),
    )
    dropped = {
        r.lang: r.dropped
        for r in orig.join(cleaned, "doc_id")
        .groupBy("lang")
        .agg(F.sum(F.col("orig") - F.col("kept_tokens")).alias("dropped"))
        .collect()
    }
    removed = {
        r.lang: r.removed_tokens
        for r in dedup.segment_dedup_report(docs, seg_len=8).collect()
    }
    assert dropped == removed

    solo = spark.createDataFrame(
        [(1, "en", "A b C d e f g h i j")], ["doc_id", "lang", "text"]
    )
    row = dedup.remove_duplicated_segments(solo, seg_len=8).collect()[0]
    assert row.clean_text == "a b c d e f g h i j"
    assert row.kept_tokens == 10


def test_remove_duplicated_segments_empties_verbatim_copy(spark):
    rows = [(1, "en", "a b c d e f g h"), (2, "en", "a b c d e f g h")]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {r.doc_id: r for r in dedup.remove_duplicated_segments(df, 8).collect()}
    assert out[1].kept_tokens == 8 and out[1].clean_text != ""
    assert out[2].kept_tokens == 0 and out[2].clean_text == ""


def test_segment_family_null_group_and_null_text_distinction(spark):
    """NULL group values keep their report row (null-safe join), and the
    writer distinguishes never-had-text (NULL out) from dedup-emptied
    (empty string out)."""
    df = spark.createDataFrame(
        [
            (1, None, "a b c"),
            (2, None, "a b c"),          # dup of 1, null lang
            (3, "en", "x y z"),
            (4, "en", None),             # null text
        ],
        ["doc_id", "lang", "text"],
    )
    rep = {r.lang: r for r in dedup.segment_dedup_report(df, seg_len=3).collect()}
    assert None in rep and rep[None].n_docs == 2 and rep[None].n_dup_segments == 1
    assert rep["en"].n_docs == 1  # the null-text doc contributes nothing
    out = {r.doc_id: r for r in dedup.remove_duplicated_segments(df, 3).collect()}
    assert out[2].clean_text == "" and out[2].kept_tokens == 0
    assert out[4].clean_text is None and out[4].kept_tokens == 0
    assert out[1].clean_text == "a b c"
