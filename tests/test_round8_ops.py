"""Round-8 operator tests: logistic-regression training (q145), int8
embedding quantization (q146), and incremental MinHash dedup against
the persisted LSH band index (q147)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from nyc_tlc_analytics_pipeline_spark.operators import dedup, similarity, train
from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

from .conftest import SF_SMOKE, full_tier


# ---------------------------------------------------------------------------
# q145 — logistic-regression training
# ---------------------------------------------------------------------------


def _rnd6(x: float) -> float:
    return round(x + 1e-9, 6)


def _sigmoid(z: float) -> float:
    return 1.0 / (1.0 + math.exp(-z))


def _reference_logreg(rows, iters, lr):
    """Pure-Python full-batch GD with the operator's exact rounding
    discipline: rnd6 per-row sigmoid, rnd6 gradient averages, rnd6
    updates, power-of-two loss clamp."""
    lo, hi = 2.0**-20, 1.0 - 2.0**-20
    nf = len(rows[0]) - 1
    w, b = [0.0] * nf, 0.0
    traj = []
    for step in range(1, iters + 1):
        gs, gb, ls = [0.0] * nf, 0.0, 0.0
        for r in rows:
            y, x = r[-1], r[:-1]
            p = _rnd6(_sigmoid(b + sum(wj * xj for wj, xj in zip(w, x))))
            pc = min(max(p, lo), hi)
            for j in range(nf):
                gs[j] += (p - y) * x[j]
            gb += p - y
            ls += -(y * math.log(pc) + (1.0 - y) * math.log(1.0 - pc))
        n = len(rows)
        gs = [_rnd6(g / n) for g in gs]
        gb, ls = _rnd6(gb / n), _rnd6(ls / n)
        w = [_rnd6(wj - lr * gj) for wj, gj in zip(w, gs)]
        b = _rnd6(b - lr * gb)
        traj.append({"step": step, "weights": w[:], "bias": b, "loss": ls})
    return traj


@pytest.fixture(scope="module")
def separable_feats(spark):
    # y = 1 exactly when f1 > 0.5: linearly separable in one feature
    rows = [
        (0.9, 0.1, 1.0),
        (0.8, 0.3, 1.0),
        (0.7, 0.9, 1.0),
        (0.95, 0.5, 1.0),
        (0.1, 0.2, 0.0),
        (0.2, 0.8, 0.0),
        (0.3, 0.4, 0.0),
        (0.05, 0.6, 0.0),
    ]
    return (
        spark.createDataFrame(rows, "f1 double, f2 double, y double"),
        rows,
    )


def test_logreg_matches_python_reference(separable_feats):
    df, rows = separable_feats
    traj = train.logreg_train(df, ["f1", "f2"], "y", iters=5, lr=2.0)
    ref = _reference_logreg(rows, iters=5, lr=2.0)
    for got, exp in zip(traj, ref):
        assert got["step"] == exp["step"]
        assert got["weights"] == pytest.approx(exp["weights"], abs=2e-6)
        assert got["bias"] == pytest.approx(exp["bias"], abs=2e-6)
        assert got["loss"] == pytest.approx(exp["loss"], abs=2e-6)


def test_logreg_loss_decreases_and_separates(separable_feats):
    df, rows = separable_feats
    traj = train.logreg_train(df, ["f1", "f2"], "y", iters=12, lr=2.0)
    losses = [t["loss"] for t in traj]
    assert losses[-1] < losses[0] < 0.6932  # below ln 2 after step 1
    w, b = traj[-1]["weights"], traj[-1]["bias"]
    # the learned boundary classifies the separable toy set perfectly
    for r in rows:
        z = b + sum(wj * xj for wj, xj in zip(w, r[:-1]))
        assert (z > 0) == (r[-1] == 1.0)
    # f1 carries the signal; it should dominate the noise feature
    assert abs(w[0]) > abs(w[1])


def test_trajectory_df_schema(spark, separable_feats):
    df, _ = separable_feats
    traj = train.logreg_train(df, ["f1", "f2"], "y", iters=2, lr=1.0)
    out = train.trajectory_df(spark, traj)
    assert out.columns == ["step", "w1", "w2", "bias", "loss"]
    assert out.count() == 2
    assert [r.step for r in out.collect()] == [1, 2]


# ---------------------------------------------------------------------------
# q146 — int8 quantization
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


def test_quantize_codes_bounds_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    got = {
        r.vec_id: r.codes
        for r in df.select(
            "vec_id", similarity.quantize_codes("embedding").alias("codes")
        ).collect()
    }
    # scale = 1.0/127: codes are round(x*127)
    assert got[1] == [64, -127, 32, 0]
    assert got[2] == [0, 0, 0, 0]  # all-zero vector → zero codes, no ÷0
    assert all(abs(c) <= 127 for cs in got.values() for c in cs)


def test_quantize_query_matches_column_expression(spark, emb):
    vec = [float(x) for x in emb.filter(col("vec_id") == 3).head()["embedding"]]
    driver_codes = similarity.quantize_query(vec)
    [row] = (
        emb.filter(col("vec_id") == 3)
        .select(similarity.quantize_codes("embedding").alias("c"))
        .collect()
    )
    assert driver_codes == list(row.c)


def test_quantized_reconstruction_error_within_half_step(spark, emb):
    """|x − code·scale| ≤ scale/2 (+nudge) for every component."""
    v = similarity.as_double_array("embedding")
    scale = F.greatest(
        F.array_max(F.transform(v, F.abs)) / lit(127.0), lit(1e-12)
    )
    codes = similarity.quantize_codes("embedding")
    worst = (
        emb.select(
            F.array_max(
                F.zip_with(
                    v, codes, lambda x, c: F.abs(x - c.cast("double") * scale) / scale
                )
            ).alias("w")
        )
        .agg(F.max("w"))
        .first()[0]
    )
    assert worst <= 0.5 + 1e-6


def test_quantized_topk_recall_and_score_error(emb):
    qvec = [float(x) for x in emb.filter(col("vec_id") == 0).head()["embedding"]]
    exact = {
        r.vec_id
        for r in similarity.cosine_topk(emb, qvec, k=10, exclude_ids=(0,)).collect()
    }
    qrows = similarity.quantized_cosine_topk(emb, qvec, k=10, exclude_ids=(0,)).collect()
    assert len({r.vec_id for r in qrows} & exact) >= 7
    for r in qrows:
        assert r.q_cos == pytest.approx(r.cos_exact, abs=0.02)


# ---------------------------------------------------------------------------
# q147 — incremental MinHash vs the persisted band index
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").cache()


@pytest.fixture(scope="module")
def split(docs):
    return (
        docs.filter(col("doc_id") % 3 == 0).cache(),
        docs.filter(col("doc_id") % 3 != 0).cache(),
    )


def test_incremental_statuses_partition_batch(split):
    batch, standing = split
    st = dedup.incremental_minhash_classify(batch, standing, "doc_id", "text")
    counts = {r.status: r.n for r in st.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == batch.count()
    assert set(counts) <= {"dup_vs_corpus", "dup_in_batch", "new"}


def test_incremental_cross_matches_full_corpus_pairs(docs, split):
    """A batch doc is dup_vs_corpus exactly when the FULL-corpus MinHash
    pair set contains a verified pair linking it to a standing doc —
    signatures are per-doc, so splitting the corpus cannot change them."""
    batch, standing = split
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    full_pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text").collect()
    expected = set()
    for p in full_pairs:
        a_in, b_in = p.doc_a in batch_ids, p.doc_b in batch_ids
        if a_in != b_in:
            expected.add(p.doc_a if a_in else p.doc_b)
    st = dedup.incremental_minhash_classify(batch, standing, "doc_id", "text")
    got = {r.doc_id for r in st.filter(col("status") == "dup_vs_corpus").collect()}
    assert got == expected


def test_incremental_report_consistent_with_classify(split):
    batch, standing = split
    rep = dedup.incremental_minhash_report(
        batch, standing, "doc_id", "text", "source"
    ).collect()
    for r in rep:
        assert r.n_batch == r.n_dup_vs_corpus + r.n_dup_in_batch + r.n_new


def test_persisted_band_index_probe_equals_inline(tmp_path, spark, split):
    """The production path: standing band table WRITTEN partitioned by
    band, read back, and passed as standing_bands — identical report."""
    batch, standing = split
    path = str(tmp_path / "band_index")
    dedup.lsh_band_table(standing, "doc_id", "text").write.partitionBy(
        "band"
    ).parquet(path)
    persisted = spark.read.parquet(path).select("doc", "band", "bucket")
    inline = dedup.incremental_minhash_report(
        batch, standing, "doc_id", "text", "source"
    ).collect()
    probed = dedup.incremental_minhash_report(
        batch, standing, "doc_id", "text", "source", standing_bands=persisted
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, probed))


# ---------------------------------------------------------------------------
# q148 — Kneser–Ney perplexity
# ---------------------------------------------------------------------------


def _kn_reference(model_docs, eval_docs, d=0.75):
    """Pure-Python interpolated KN bigram scorer with the operator's
    exact formula (add-1 continuation, unseen context → Pcont)."""
    from collections import Counter, defaultdict

    c2, ctx_tot = Counter(), Counter()
    fanout, contset = defaultdict(set), defaultdict(set)
    vocab = set()
    for doc in model_docs:
        toks = doc.lower().split()
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            c2[(a, b)] += 1
            ctx_tot[a] += 1
            fanout[a].add(b)
            contset[b].add(a)
    T, V = len(c2), len(vocab)

    def pcont(w):
        return (len(contset.get(w, ())) + 1.0) / (T + V)

    out = []
    for doc in eval_docs:
        toks = doc.lower().split()
        bgs = list(zip(toks, toks[1:]))
        if not bgs:
            continue
        s, unseen = 0.0, 0
        for a, b in bgs:
            if (a, b) not in c2:
                unseen += 1
            if a in ctx_tot:
                cv = ctx_tot[a]
                p = (
                    max(c2.get((a, b), 0) - d, 0.0) / cv
                    + d * len(fanout[a]) / cv * pcont(b)
                )
            else:
                p = pcont(b)
            s += math.log(p)
        out.append((len(bgs), unseen, -s / len(bgs)))
    return out


def test_kneser_ney_matches_hand_reference(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import lm

    model_texts = ["a b c", "a b d", "e b c", "a f"]
    eval_texts = [
        "a b c",      # all seen
        "a q",        # seen context, unseen word
        "z b",        # unseen context, seen word
        "z q",        # nothing seen
    ]
    model = spark.createDataFrame([(t,) for t in model_texts], "text string")
    ev = spark.createDataFrame(
        [(i, t) for i, t in enumerate(eval_texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_bigrams, r.n_unseen, r.log_ppl)
        for r in lm.kneser_ney_perplexity(ev, ["doc_id"], model).collect()
    }
    ref = _kn_reference(model_texts, eval_texts)
    assert len(got) == len(ref)
    for i, (nb, unseen, lp) in enumerate(ref):
        assert got[i][0] == nb
        assert got[i][1] == unseen
        assert got[i][2] == pytest.approx(lp, abs=1e-9)


def test_kneser_ney_probabilities_sum_to_at_most_one(spark):
    """For a seen context, Σ_w p(w|v) over the model VOCAB stays ≤ 1
    (the discount redistributes mass it first removed; the +1
    continuation floor only leaks mass to out-of-vocab words)."""
    from collections import Counter, defaultdict

    model_texts = ["a b c a b d a c", "b a c d"]
    c2, ctx_tot = Counter(), Counter()
    fanout, contset = defaultdict(set), defaultdict(set)
    vocab = set()
    for doc in model_texts:
        toks = doc.split()
        vocab.update(toks)
        for x, y in zip(toks, toks[1:]):
            c2[(x, y)] += 1
            ctx_tot[x] += 1
            fanout[x].add(y)
            contset[y].add(x)
    T, V, d = len(c2), len(vocab), 0.75
    for v in ctx_tot:
        tot = sum(
            max(c2.get((v, w), 0) - d, 0.0) / ctx_tot[v]
            + d * len(fanout[v]) / ctx_tot[v] * (len(contset[w]) + 1.0) / (T + V)
            for w in vocab
        )
        assert tot <= 1.0 + 1e-12


# ---------------------------------------------------------------------------
# streaming near-dup ingest (the streaming face of q147)
# ---------------------------------------------------------------------------


def _write_doc_batches(spark, docs, src, n_files=3):
    """Split documents into n deterministic slices, one parquet FILE per
    slice with strictly increasing mtimes so the file stream processes
    them as ordered micro-batches."""
    import glob
    import os
    import shutil
    import time

    os.makedirs(src, exist_ok=True)
    slices = []
    for k in range(n_files):
        sl = docs.filter(col("doc_id") % n_files == k)
        slices.append(sl)
        tmp = f"{src}__tmp{k}"
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        [part] = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(src, f"{k:03d}.parquet")
        shutil.copy(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (time.time() + k * 10, time.time() + k * 10))
    return slices


@full_tier
def test_streaming_near_dup_matches_sequential_batches(spark, docs, tmp_path):
    """Draining the doc directory through the streaming near-dup ingest
    equals the sequential batch chain (classify each slice against the
    accumulated survivors), and a same-checkpoint re-run is a no-op."""
    from nyc_tlc_analytics_pipeline_spark.sources.manifest import ManifestTable
    from nyc_tlc_analytics_pipeline_spark.streaming.near_dup import (
        run_streaming_near_dup,
    )

    src = str(tmp_path / "docs_src")
    slices = _write_doc_batches(spark, docs, src, n_files=3)

    status_p = str(tmp_path / "status")
    docs_p = str(tmp_path / "store")
    bands_p = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_streaming_near_dup(stream, status_p, docs_p, bands_p, ckpt)

    run()
    got = {
        r.doc_id: r.status
        for r in ManifestTable(spark, status_p).read().collect()
    }

    # sequential batch reference over the same slices in the same order
    expected = {}
    standing = docs.limit(0)
    for sl in slices:
        st = dedup.incremental_minhash_classify(sl, standing, "doc_id", "text")
        for r in st.select("doc_id", "status").collect():
            expected[r.doc_id] = r.status
        standing = standing.unionByName(
            st.filter(col("status") == "new").drop("status")
        ).localCheckpoint(eager=True)
    assert got == expected

    # survivor store holds exactly the 'new' docs
    store_ids = {
        r.doc_id for r in ManifestTable(spark, docs_p).read().collect()
    }
    assert store_ids == {d for d, s in expected.items() if s == "new"}

    # band index covers exactly the survivors
    band_ids = {
        r.doc for r in ManifestTable(spark, bands_p).read().collect()
    }
    assert band_ids == store_ids

    # replay with the same checkpoint: availableNow finds nothing new
    v_before = ManifestTable(spark, status_p).latest_version()
    run()
    assert ManifestTable(spark, status_p).latest_version() == v_before


# ---------------------------------------------------------------------------
# q149 — binary sign codes + Hamming re-rank
# ---------------------------------------------------------------------------


def test_sign_codes_driver_matches_column(spark, emb):
    vec = [float(x) for x in emb.filter(col("vec_id") == 5).head()["embedding"]]
    [row] = (
        emb.filter(col("vec_id") == 5)
        .select(similarity.sign_codes("embedding", len(vec)).alias("c"))
        .collect()
    )
    assert similarity.sign_codes_query(vec) == list(row.c)


def test_hamming_self_is_zero_and_symmetric(spark):
    df = spark.createDataFrame(
        [([1.0, -2.0, 0.5, -0.1] * 16,), ([-1.0, 2.0, -0.5, 0.1] * 16,)],
        "embedding array<double>",
    )
    codes = similarity.sign_codes("embedding", 64)
    rows = df.select(codes.alias("c")).collect()
    a, b = list(rows[0].c), list(rows[1].c)
    pair = spark.createDataFrame([(a, b)], "ca array<long>, cb array<long>")
    [r] = pair.select(
        similarity.hamming_words(col("ca"), col("cb")).alias("h_ab"),
        similarity.hamming_words(col("cb"), col("ca")).alias("h_ba"),
        similarity.hamming_words(col("ca"), col("ca")).alias("h_aa"),
    ).collect()
    assert r.h_aa == 0
    assert r.h_ab == r.h_ba == 64  # exact sign flips everywhere


def test_binary_rerank_recall_vs_exact(emb):
    qvec = [float(x) for x in emb.filter(col("vec_id") == 0).head()["embedding"]]
    exact = {
        r.vec_id
        for r in similarity.cosine_topk(emb, qvec, k=10, exclude_ids=(0,)).collect()
    }
    got = similarity.binary_rerank_topk(
        emb, qvec, k=10, m=50, exclude_ids=(0,)
    ).collect()
    assert len({r.vec_id for r in got} & exact) >= 6
    # wider shortlist → recall can only improve (candidate set is a superset)
    wide = similarity.binary_rerank_topk(
        emb, qvec, k=10, m=200, exclude_ids=(0,)
    ).collect()
    assert len({r.vec_id for r in wide} & exact) >= len(
        {r.vec_id for r in got} & exact
    )


# ---------------------------------------------------------------------------
# q150 — IVF × int8 combined stack
# ---------------------------------------------------------------------------


def test_ivf_quantized_full_probe_equals_quantized_brute(emb):
    """With n_probe == n_centroids the IVF prune is a no-op, so the
    combined stack must equal the plain quantized brute top-k — the
    q31 correctness contract carried over to the quantized path."""
    rest = emb.filter(col("vec_id") != 0)
    qvec = [float(x) for x in emb.filter(col("vec_id") == 0).head()["embedding"]]
    cents = similarity.ivf_centroids(rest, k=8)
    full = similarity.ivf_quantized_topk(
        rest, qvec, cents, k=10, n_probe=8
    ).collect()
    brute = similarity.quantized_cosine_topk(emb, qvec, k=10, exclude_ids=(0,)).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in brute]


def test_ivf_quantized_probe_recall(emb):
    rest = emb.filter(col("vec_id") != 0)
    qvec = [float(x) for x in emb.filter(col("vec_id") == 0).head()["embedding"]]
    cents = similarity.ivf_centroids(rest, k=16)
    pruned = {
        r.vec_id
        for r in similarity.ivf_quantized_topk(
            rest, qvec, cents, k=10, n_probe=4
        ).collect()
    }
    exact = {
        r.vec_id
        for r in similarity.cosine_topk(emb, qvec, k=10, exclude_ids=(0,)).collect()
    }
    assert len(pruned & exact) >= 5  # probing 1/4 of buckets keeps most


# ---------------------------------------------------------------------------
# q151 — triangle counting
# ---------------------------------------------------------------------------


def test_triangle_count_truth_table(spark):
    """A 4-clique (4 triangles, each node in 3), a star (0 triangles),
    and a disconnected triangle — with duplicate and reversed edges
    thrown in to exercise canonicalization."""
    from nyc_tlc_analytics_pipeline_spark.operators import graph

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    star = [(10, 11), (10, 12), (10, 13), (12, 10)]  # reversed dup
    tri = [(20, 21), (21, 22), (22, 20), (20, 21)]  # duplicate edge
    edges = spark.createDataFrame(
        clique + star + tri, "src long, dst long"
    )
    got = {
        r.node: (r.degree, r.n_triangles)
        for r in graph.triangle_count(edges).collect()
    }
    for n in range(4):
        assert got[n] == (3, 3)
    assert got[10] == (3, 0)
    for n in (11, 12, 13):
        assert got[n] == (1, 0)
    for n in (20, 21, 22):
        assert got[n] == (2, 1)


def test_triangle_count_global_sum_is_three_per_triangle(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import graph

    # two triangles sharing an edge: (0,1,2) and (1,2,3)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    rows = graph.triangle_count(edges).collect()
    assert sum(r.n_triangles for r in rows) == 2 * 3


# ---------------------------------------------------------------------------
# q152 — Neyman allocation
# ---------------------------------------------------------------------------


def test_neyman_allocation_favors_noisy_strata(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import sampling

    rows = []
    # stratum A: 100 rows, constant value (S=0) → floor allocation 1
    rows += [(i, "A", 50.0) for i in range(100)]
    # stratum B: 100 rows, high variance → gets nearly all the budget
    rows += [(100 + i, "B", float((i % 10) * 100)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    alloc = {
        r.s: (r.n_pop, r.n_alloc)
        for r in sampling.neyman_allocation(df, "s", "v", 50).collect()
    }
    assert alloc["A"] == (100, 1)  # zero variance → floor of 1
    assert alloc["B"][1] >= 45  # essentially the whole budget
    samp = sampling.neyman_stratified_sample(df, "s", "v", 50, "id")
    by = {r.s: r.n for r in samp.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert by["A"] == 1 and by["B"] == alloc["B"][1]


def test_neyman_sample_is_layout_independent(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import sampling

    rows = [(i, "x" if i % 3 else "y", float(i % 7)) for i in range(60)]
    df1 = spark.createDataFrame(rows, "id long, s string, v double")
    df2 = spark.createDataFrame(rows[::-1], "id long, s string, v double").repartition(7)
    ids1 = {r.id for r in sampling.neyman_stratified_sample(df1, "s", "v", 20, "id").collect()}
    ids2 = {r.id for r in sampling.neyman_stratified_sample(df2, "s", "v", 20, "id").collect()}
    assert ids1 == ids2


# ---------------------------------------------------------------------------
# plan audits — the round-8 shapes the scale story depends on
# ---------------------------------------------------------------------------


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q146_plan_is_kernel_plus_takeordered_no_shuffle(emb):
    qvec = [float(x) for x in emb.filter(col("vec_id") == 0).head()["embedding"]]
    plan = _plan(similarity.quantized_cosine_topk(emb, qvec, k=10, exclude_ids=(0,)))
    assert "TakeOrderedAndProject" in plan
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning" not in plan  # scan→score→topk only


def test_q149_stage1_reads_codes_with_takeordered(emb):
    qvec = [float(x) for x in emb.filter(col("vec_id") == 0).head()["embedding"]]
    plan = _plan(
        similarity.binary_rerank_topk(emb, qvec, k=10, m=50, exclude_ids=(0,))
    )
    # both stage boundaries are TakeOrdered / top-k sorts, never a full
    # shuffle of the table
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_incremental_classify_prunes_standing_with_semi_join(split):
    batch, standing = split
    plan = _plan(
        dedup.incremental_minhash_classify(batch, standing, "doc_id", "text")
    )
    assert "LeftSemi" in plan  # standing text shingled only for candidates


# ---------------------------------------------------------------------------
# q153 — CMS join-cardinality estimate
# ---------------------------------------------------------------------------


def test_cms_join_size_never_underestimates_and_exact_when_sparse(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import sketch

    a = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3, 7, 7]], "k long"
    )
    b = spark.createDataFrame(
        [(k,) for k in [1, 2, 2, 2, 3, 3, 9]], "k long"
    )
    true_size = (
        a.join(b, "k").count()
    )  # 3*1 + 2*3 + 1*2 = 11
    assert true_size == 11
    # wide sketch → no collisions → the estimate is EXACT
    sa = sketch.cms_partials(a, "k", d=4, w=4096)
    sb = sketch.cms_partials(b, "k", d=4, w=4096)
    assert sketch.cms_join_size(sa, sb).first()[0] == true_size
    # narrow sketch → collisions only ADD mass (never underestimates)
    sa2 = sketch.cms_partials(a, "k", d=4, w=4)
    sb2 = sketch.cms_partials(b, "k", d=4, w=4)
    assert sketch.cms_join_size(sa2, sb2).first()[0] >= true_size


def test_cms_join_size_merges_shards_exactly(spark):
    """Sketches built per shard and sum-merged price the join the same
    as one whole-table sketch — the catalog-maintenance property."""
    from nyc_tlc_analytics_pipeline_spark.operators import sketch

    rows = [(i % 17,) for i in range(200)]
    df = spark.createDataFrame(rows, "k long")
    whole = sketch.cms_partials(df, "k", d=4, w=64)
    sh1 = sketch.cms_partials(df.filter(col("k") % 2 == 0), "k", d=4, w=64)
    sh2 = sketch.cms_partials(df.filter(col("k") % 2 == 1), "k", d=4, w=64)
    merged = sketch.cms_merge(sh1.unionAll(sh2))
    other = sketch.cms_partials(df, "k", d=4, w=64)
    assert (
        sketch.cms_join_size(whole, other).first()[0]
        == sketch.cms_join_size(merged, other).first()[0]
    )


# ---------------------------------------------------------------------------
# q154 — HLL distinct-key overlap
# ---------------------------------------------------------------------------


def test_hll_overlap_subset_disjoint_and_identical(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import sketch

    big = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    sub = spark.createDataFrame([(i,) for i in range(500)], "k long")
    dis = spark.createDataFrame([(i,) for i in range(10000, 12000)], "k long")
    pb = sketch.hll_partials(big, "k", [])
    ps = sketch.hll_partials(sub, "k", [])
    pd_ = sketch.hll_partials(dis, "k", [])
    r = sketch.hll_overlap(pb, ps).first()
    # subset: overlap ≈ |sub| (HLL standard error at b=9 is ~4.6%)
    assert abs(r.overlap_estimate - 500) / 500 < 0.2
    # identical: overlap ≈ distinct_a exactly (union merge is idempotent)
    ri = sketch.hll_overlap(pb, pb).first()
    assert ri.overlap_estimate == ri.distinct_a
    # disjoint: near zero relative to either side, never negative
    rd = sketch.hll_overlap(pb, pd_).first()
    assert rd.overlap_estimate >= 0.0
    assert rd.overlap_estimate < 0.25 * rd.distinct_a


# ---------------------------------------------------------------------------
# q155 — k-anonymity audit
# ---------------------------------------------------------------------------


def test_k_anonymity_report_truth_table(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import redact

    rows = (
        [("a", "en")] * 7      # one class of k=7
        + [("b", "en")] * 2    # k=2 (below threshold 5)
        + [("c", "fr")] * 2    # k=2
        + [("d", "de")]        # k=1 (unique row — worst case)
    )
    df = spark.createDataFrame(rows, "src string, lang string")
    got = {
        r.k: (r.n_classes, r.n_rows, r.below_threshold)
        for r in redact.k_anonymity_report(df, ["src", "lang"], 5).collect()
    }
    assert got == {1: (1, 1, True), 2: (2, 4, True), 7: (1, 7, False)}
    # total row mass is conserved
    assert sum(v[1] for v in got.values()) == len(rows)
