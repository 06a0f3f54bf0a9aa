"""Recall/precision verification for the hash-based dedup and ANN
operators — the recall counterpart of the catalog entries
(q28/q29/q30): MinHash-LSH is checked against exact Jaccard, SimHash
against Hamming ground truth, ANN variants against brute-force cosine."""

from __future__ import annotations

import pytest
from pyspark.sql.functions import col

from nyc_tlc_analytics_pipeline_spark.operators import dedup, similarity
from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").cache()


@pytest.fixture(scope="module")
def exact_pairs(docs):
    return {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }


def test_corpus_has_planted_near_dups(exact_pairs):
    assert len(exact_pairs) >= 5
    assert max(exact_pairs.values()) > 0.9


def test_minhash_lsh_perfect_recall_at_high_similarity(docs, exact_pairs):
    """16 hashes / 4 bands: P(collide | j=0.5) = 1-(1-0.5^4)^4 ≈ 23% per
    band structure — but the verified-pairs pipeline re-checks exact
    Jaccard, so precision is 1.0 by construction; recall on the planted
    ≥0.9 near-dups must be 1.0 (collision prob ≈ 1-(1-0.9^4)^4 ≈ 99.2%)."""
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_dedup_pairs(docs, "doc_id", "text").collect()
    }
    assert set(got) <= set(exact_pairs)  # precision 1.0 (exact-verified)
    high = {p for p, j in exact_pairs.items() if j >= 0.9}
    assert high <= set(got)  # recall 1.0 on strong near-dups


def test_prefix_filtered_jaccard_equals_naive(docs):
    """The prefix-filtered exact plan must return byte-identical results
    to the naive self-join (it is an optimization, not an approximation)."""
    fast = {
        (r.doc_a, r.doc_b): (r.n_common, r.size_a, r.size_b, round(r.jaccard, 9))
        for r in dedup.jaccard_pairs(
            docs, "doc_id", "text", prefix_filter=True
        ).collect()
    }
    naive = {
        (r.doc_a, r.doc_b): (r.n_common, r.size_a, r.size_b, round(r.jaccard, 9))
        for r in dedup.jaccard_pairs(
            docs, "doc_id", "text", prefix_filter=False
        ).collect()
    }
    assert fast == naive and len(fast) > 0


def test_jaccard_strategy_probe_runs_no_spark_job(spark, docs):
    """The adaptive prefix-filter decision reads Catalyst's plan-size
    statistic — building the pair plan must not launch any Spark job (at
    100 TB a count() probe would be a full scan before the query even
    starts)."""
    sc = spark.sparkContext
    sc.setJobGroup("jaccard-plan-build", "strategy probe must not run jobs")
    try:
        df = dedup.jaccard_pairs(docs, "doc_id", "text")  # plan only, no action
        assert df is not None
        assert sc.statusTracker().getJobIdsForGroup("jaccard-plan-build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_minhash_signatures_shape(docs):
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    row = sigs.head()
    assert len(row.signature) == 16
    assert sigs.count() == docs.count()


def test_simhash_deterministic_and_bounded(docs):
    a = {r.doc: r.sh for r in docs.selectExpr("doc_id AS doc").join(
        docs.select(col("doc_id").alias("doc"), dedup.simhash("text", 64).alias("sh")), "doc"
    ).collect()}
    b = {r.doc: r.sh for r in docs.select(
        col("doc_id").alias("doc"), dedup.simhash("text", 64).alias("sh")
    ).collect()}
    assert a == b  # deterministic across plans


def test_simhash_near_pairs_rank_close_docs_closer(docs, exact_pairs):
    """SimHash hamming distance must separate planted near-dups from
    random pairs: mean hamming of exact-near-dup pairs << corpus mean."""
    hashed = docs.select(col("doc_id").alias("doc"), dedup.simhash("text", 64).alias("sh"))
    hs = {r.doc: r.sh for r in hashed.collect()}
    import itertools
    import random

    near = [bin(hs[a] ^ hs[b]).count("1") for a, b in exact_pairs]
    rng = random.Random(7)
    ids = sorted(hs)
    rand = [
        bin(hs[a] ^ hs[b]).count("1")
        for a, b in (
            tuple(sorted(rng.sample(ids, 2))) for _ in range(300)
        )
        if (a, b) not in exact_pairs
    ]
    assert sum(near) / len(near) < sum(rand) / len(rand) - 10


def test_ann_lsh_scores_subset_only(spark, exact_pairs):
    emb = load_table(spark, SF_SMOKE, "embeddings").cache()
    q = [float(x) for x in emb.filter(col("vec_id") == 0).select("embedding").head()[0]]
    planes = similarity.random_hyperplanes(8, len(q))
    rest = emb.filter(col("vec_id") != 0)
    probed = rest.withColumn("bucket", similarity.lsh_bucket("embedding", planes))
    n_total = rest.count()
    got = similarity.ann_topk(rest, q, planes, k=10).collect()
    assert len(got) == 10
    # the probe touches a strict subset of buckets (that's the point)
    n_buckets = probed.select("bucket").distinct().count()
    assert n_buckets > 9  # multiprobe(1) over 8 planes probes 9 of >9 buckets


def test_ivf_full_probe_equals_brute_force(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").cache()
    q = [float(x) for x in emb.filter(col("vec_id") == 0).select("embedding").head()[0]]
    rest = emb.filter(col("vec_id") != 0)
    cents = similarity.ivf_centroids(rest, k=8)
    truth = [r.vec_id for r in similarity.cosine_topk(rest, q, k=10).collect()]
    full = [
        r.vec_id for r in similarity.ivf_topk(rest, q, cents, k=10, n_probe=8).collect()
    ]
    assert full == truth  # probing every centroid IS brute force
    partial = [
        r.vec_id for r in similarity.ivf_topk(rest, q, cents, k=10, n_probe=2).collect()
    ]
    assert len(partial) == 10
    all_ids = {r.vec_id for r in rest.select("vec_id").collect()}
    assert set(partial) <= all_ids


def test_embedding_near_dup_finds_planted_duplicates(spark):
    """Plant near-identical copies (tiny perturbation) of real vectors;
    the LSH-bucketed operator must recover every planted pair and nothing
    from the random background (cos ≥ 0.98)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    copies = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 100000).alias("vec_id"),
        F.expr("transform(embedding, x -> CAST(x * 1.0001 AS FLOAT))").alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(copies)
    pairs = dedup.embedding_near_dup_pairs(corpus, threshold=0.98)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    expected = {(i, i + 100000) for i in range(20)}
    assert expected <= got
    # uniformly random background produces no 0.98-cosine pairs
    assert got == expected


def _synthetic_vectors(spark, n, dim=16, seed=0, n_planted=10):
    """n random gaussian vectors + n_planted near-identical copies
    (additive 1e-4 noise → cosine ≈ 0.9999) with ids 100000+i."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    noise = rng.standard_normal((n_planted, dim)) * 1e-4
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(n)]
    rows += [
        (100000 + i, [float(x) for x in base[i] + noise[i]], 0)
        for i in range(n_planted)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_banded_lsh_candidate_count_stays_linear(spark):
    """The single-table form has a hard 2^p bucket ceiling (candidates go
    quadratic once N >> 2^p).  With planes-per-band scaled ~log2(N), the
    banded form must NOT quadruple its candidate volume when the corpus
    doubles — that's the 100-TB scale property."""
    from math import ceil, log2

    counts = {}
    for n in (400, 800):
        df = _synthetic_vectors(spark, n, dim=32, seed=1)
        r = ceil(log2(n)) + 2  # planes per band grow with the corpus
        bands = 4
        planes = similarity.random_hyperplanes(bands * r, 32, seed=7)
        counts[n] = similarity.banded_candidate_pairs(
            df, planes, bands, id_col="vec_id", vec_col="embedding"
        ).count()
    assert counts[800] <= 2.6 * max(counts[400], 1) + 30, counts


def test_banded_near_dup_recall_on_planted_pairs(spark):
    """bands=4 of 10 planes each: P(planted pair collides) =
    1-(1-p1^10)^4 ≈ 1 for cos≈0.9999 — every planted pair must surface,
    and exact cosine verification keeps precision 1.0 by construction."""
    df = _synthetic_vectors(spark, 300, dim=16, seed=3)
    planes = similarity.random_hyperplanes(40, 16, seed=11)
    pairs = dedup.embedding_near_dup_pairs(
        df, threshold=0.99, planes=planes, bands=4
    )
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    expected = {(i, 100000 + i) for i in range(10)}
    assert expected <= got
    # random gaussian background in 16-dim produces no 0.99-cosine pairs
    assert got == expected


def test_persisted_ivf_index_prunes_partitions_and_matches(spark, tmp_path):
    """write_ivf_index + read_ivf_probe: the probe must (a) plan as
    partition PRUNING — only n_probe of the K bucket directories appear
    in the scan — and (b) return exactly ivf_topk's results on the same
    centroid set (I/O changes, semantics don't)."""
    df = _synthetic_vectors(spark, 300, dim=16, seed=9)
    cents = similarity.ivf_centroids(df, k=8)
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(df, path, cents)

    from pyspark.sql import functions as F

    q = [float(x) for x in df.filter("vec_id = 5").select("embedding").head()[0]]
    got = similarity.read_ivf_probe(spark, path, q, cents, k=5, n_probe=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ivf_bucket" in plan
    expected = similarity.ivf_topk(df, q, cents, k=5, n_probe=3)
    assert [(r.vec_id, r.cos_sim) for r in got.orderBy(F.desc("cos_sim"), "vec_id").collect()] == \
           [(r.vec_id, r.cos_sim) for r in expected.orderBy(F.desc("cos_sim"), "vec_id").collect()]
    # full probe over the index == brute force over the raw table
    full = similarity.read_ivf_probe(spark, path, q, cents, k=5, n_probe=8)
    brute = similarity.cosine_topk(df, q, k=5)
    assert {r.vec_id for r in full.collect()} == {r.vec_id for r in brute.collect()}


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    from nyc_tlc_analytics_pipeline_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog again and again"
    long_doc = (
        "completely different opening words here to pad the long document "
        + quote
        + " and yet more unrelated trailing content follows this quote "
        "with several additional filler tokens to dilute the overlap"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "nothing in common with either")],
        "doc_id long, text string",
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] >= 0.8
    jac = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(
            df, "doc_id", "text", threshold=0.8, prefix_filter=False
        ).collect()
    }
    assert (1, 2) not in jac  # the long side dilutes symmetric Jaccard


def test_containment_prefix_filter_matches_naive_formula(spark):
    import random

    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators.dedup import (
        containment_pairs,
        shingle_table,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.containment)
        for r in containment_pairs(df, "doc_id", "text", threshold=0.6).collect()
    }
    # naive reference: full shared-shingle join
    sh = shingle_table(df, "doc_id", "text", 3)
    sizes = {r.doc: r.n for r in sh.groupBy("doc").agg(F.count("*").alias("n")).collect()}
    pairs = {}
    shset = {}
    for r in sh.collect():
        shset.setdefault(r.doc, set()).add(r.shingle)
    docs_ = sorted(shset)
    for i, a in enumerate(docs_):
        for b in docs_[i + 1 :]:
            c = len(shset[a] & shset[b])
            if c and c / min(sizes[a], sizes[b]) >= 0.6:
                pairs[(a, b)] = (c, c / min(sizes[a], sizes[b]))
    assert set(got) == set(pairs)
    for k, (c, v) in pairs.items():
        assert got[k][0] == c and abs(got[k][1] - v) < 1e-9
