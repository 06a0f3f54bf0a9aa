"""Unit tests for the round-3 additions: n-gram heavy hitters,
incremental partial-aggregate merge, and prefix-blocked edit-distance
near-dup (parity with the DuckDB oracles is covered separately by
test_catalog_parity; these pin the operator semantics on handcrafted
data, including the documented recall boundaries)."""

from __future__ import annotations

import pytest

from nyc_tlc_analytics_pipeline_spark.operators import dedup, incremental, text


def test_ngram_heavy_hitters_counts_and_docfreq(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),     # "a b" ×3, "b a" ×2
            (2, "a b c"),          # "a b", "b c"
            (3, "zz"),             # too short for a bigram
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.ngram: (r.occurrences, r.doc_freq)
        for r in text.ngram_heavy_hitters(df, "doc_id", "text", n=2, k=10).collect()
    }
    assert rows["a b"] == (4, 2)
    assert rows["b a"] == (2, 1)
    assert rows["b c"] == (1, 1)
    assert "zz" not in rows


def test_word_ngrams_short_doc_is_empty(spark):
    df = spark.createDataFrame([("one",), ("one two",)], ["text"])
    sizes = [
        r[0]
        for r in df.select(
            text.word_ngrams("text", n=2).cast("array<string>").alias("g")
        ).selectExpr("size(g)").collect()
    ]
    assert sizes == [0, 1]


def test_merge_partials_is_associative(spark):
    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0), ("a", 4, 40.0)]
    df = spark.createDataFrame(rows, ["k", "n", "v"])
    spec = {"n": "count", "v": "sum"}

    def agg(d):
        return incremental.merge_partials([d], ["k"], spec)

    p1 = agg(df.limit(0).union(df.where("n <= 1")))
    p2 = agg(df.where("n in (2, 3)"))
    p3 = agg(df.where("n = 4"))
    left = incremental.merge_partials(
        [incremental.merge_partials([p1, p2], ["k"], spec), p3], ["k"], spec
    )
    right = incremental.merge_partials(
        [p1, incremental.merge_partials([p2, p3], ["k"], spec)], ["k"], spec
    )
    full = agg(df)
    as_set = lambda d: {tuple(r) for r in d.collect()}  # noqa: E731
    assert as_set(left) == as_set(right) == as_set(full)


def test_merge_partials_rejects_holistic_kinds(spark):
    df = spark.createDataFrame([("a", 1.0)], ["k", "v"])
    with pytest.raises(ValueError, match="non-mergeable"):
        incremental.merge_partials([df], ["k"], {"v": "median"})


def test_edit_distance_pairs_planted(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("dog", "cat")),       # dist 3, same prefix
            (3, base.upper()),                     # dist 0 after normalization
            (4, "totally different text that shares no prefix with base"),
            (5, "xx " + base),                     # edit inside the block: missed
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in dedup.edit_distance_pairs(
            df, "doc_id", "text", max_dist=8, prefix_len=16
        ).collect()
    }
    assert got[(1, 3)] == 0
    assert got[(1, 2)] == 3
    assert got[(2, 3)] == 3
    # documented recall boundary: a prefix edit moves doc 5 out of the block
    assert not any(5 in pair for pair in got)
    assert not any(4 in pair for pair in got)


def test_kmeans_separates_planted_blobs(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import cluster

    # two tight blobs far apart; init picks one seed in each (ids 0, 1)
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0])]
    rows += [(i, [0.1 * (i % 3), 0.1]) for i in range(2, 12)]
    rows += [(i, [10.0 + 0.1 * (i % 3), 9.9]) for i in range(12, 22)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assigned, cents = cluster.kmeans_fit(df, "vec_id", "embedding", k=2, iters=3)
    got = {r.vid: r.cid for r in assigned.collect()}
    lo = {vid for vid, cid in got.items() if cid == got[0]}
    assert lo == {0} | set(range(2, 12))
    assert len(cents) == 2 and len(cents[0]) == 2
    # centroids converge into the blobs
    assert abs(cents[0][0]) < 0.2 and abs(cents[1][0] - 10.0) < 0.2


def test_kmeans_assignment_is_map_side(spark):
    """Assignment must never shuffle the vectors: a single MapInPandas
    stage with the centroid matrix in the kernel closure — no join, no
    exchange at all."""
    from nyc_tlc_analytics_pipeline_spark.operators import cluster

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)], ["vec_id", "embedding"]
    )
    vecs = df.selectExpr("vec_id AS vid", "CAST(embedding AS array<double>) AS v")

    arrow = cluster.assign_clusters(vecs, [[0.0, 0.0], [9.0, 0.0]])
    plan = arrow._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_pagerank_cycle_is_uniform(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)], ["src", "dst", "w"]
    )
    ranks = {r.node: r.rank for r in graph.pagerank(edges, iters=5).collect()}
    # symmetric cycle: stationary uniform distribution, preserved exactly
    assert ranks == {"a": pytest.approx(1 / 3, abs=1e-5),
                     "b": pytest.approx(1 / 3, abs=1e-5),
                     "c": pytest.approx(1 / 3, abs=1e-5)}


def test_pagerank_dangling_mass_conserved(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import graph

    # "sink" has no outgoing edges: its mass must be redistributed, and
    # total rank stays ~1 instead of leaking
    edges = spark.createDataFrame(
        [("a", "sink", 2), ("b", "sink", 1), ("a", "b", 1)], ["src", "dst", "w"]
    )
    rows = graph.pagerank(edges, iters=4).collect()
    total = sum(r.rank for r in rows)
    assert total == pytest.approx(1.0, abs=1e-4)
    ranks = {r.node: r.rank for r in rows}
    assert ranks["sink"] > ranks["b"] > 0


def _gaussian_vectors(spark, n, dim=16, seed=0):
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semdedup_candidate_volume_linear_with_cap(spark):
    """Adversarially small k (one fat cluster) + max_cluster_size: the
    in-cluster LSH subdivision must keep candidate volume ~linear when
    the corpus doubles (without the cap it would quadruple) — the 100-TB
    property SemDeDup's fixed-k form lacks."""
    from nyc_tlc_analytics_pipeline_spark.operators import cluster

    counts = {}
    for n in (400, 800):
        df = _gaussian_vectors(spark, n, dim=16, seed=2)
        # threshold=-1 keeps every candidate pair → measures join volume
        counts[n] = cluster.semdedup_pairs(
            df, "vec_id", "embedding", k=2, iters=1, threshold=-1.0,
            max_cluster_size=50,
        ).count()
    assert counts[800] <= 2.6 * max(counts[400], 1) + 30, counts


def test_semdedup_planted_recall_with_cap(spark):
    """Near-identical copies agree on every hyperplane sign, so the
    oversized-cluster subdivision must NOT split planted near-dup pairs:
    recall on 0.99-cosine pairs stays 100% with the cap on."""
    import numpy as np

    from nyc_tlc_analytics_pipeline_spark.operators import cluster

    rng = np.random.default_rng(7)
    base = rng.standard_normal((200, 16))
    noise = rng.standard_normal((10, 16)) * 1e-4
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    rows += [
        (100000 + i, [float(x) for x in base[i] + noise[i]]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = cluster.semdedup_pairs(
        df, "vec_id", "embedding", k=2, iters=1, threshold=0.99,
        max_cluster_size=40,
    )
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert {(i, 100000 + i) for i in range(10)} <= got
    # random gaussian background in 16-dim has no 0.99-cosine pairs
    assert got == {(i, 100000 + i) for i in range(10)}


def test_semdedup_auto_k_scales_with_corpus(spark):
    """k=None derives k = ceil(N / target_cluster_size) — the paper's
    k ∝ N regime — so mean cluster size stays at the target as the
    corpus grows."""
    from nyc_tlc_analytics_pipeline_spark.operators import cluster

    df = _gaussian_vectors(spark, 300, dim=8, seed=3)
    pairs = cluster.semdedup_pairs(
        df, "vec_id", "embedding", iters=1, threshold=-1.0,
        target_cluster_size=50,
    )
    # k = ceil(300/50) = 6 clusters; every pair joins within one of them
    assert pairs.select("cluster_id").distinct().count() <= 6
    # no cluster contributes more than ~(N/k)² pairs → well under N²/2
    assert pairs.count() < 300 * 300 / 4


def test_edit_distance_hot_block_stays_linear(spark):
    """Boilerplate skew: 50% of the corpus shares one 16-char prefix.
    With (prefix, length-band) blocking the candidate join must grow
    ~linearly when the corpus doubles — the unbanded form quadruples on
    the hot block."""
    def corpus(n, seed):
        rows = []
        for i in range(n):
            if i % 2 == 0:
                # shared boilerplate prefix, lengths spread over ~600 chars
                body = f"word{i % 97} " * (5 + (i * 7) % 100)
                rows.append((i, "from: license hdr " + body))
            else:
                rows.append((i, f"unique doc {i} {seed} " + f"tok{i} " * 10))
        return spark.createDataFrame(rows, ["doc_id", "text"])

    counts = {}
    for n in (400, 800):
        # max_dist=8 keeps band width 9 — pair volume ∝ docs per
        # (prefix, ~9 chars of length), which the length spread bounds
        counts[n] = (
            dedup.edit_distance_pairs(corpus(n, 1), "doc_id", "text", max_dist=8)
            .count()
        )
    assert counts[800] <= 2.6 * max(counts[400], 1) + 30, counts


def test_edit_distance_second_block_signal(spark):
    """Opt-in second signal: identical prefix AND identical length but a
    difference inside chars 17..48 splits the block (recall loss is the
    documented trade); a difference past the signal span does not."""
    pre = "from: license hd"  # exactly 16 chars
    mid_a = "common middle section here ok..."  # chars 17..48
    df = spark.createDataFrame(
        [
            (1, pre + mid_a + " tail one equal ok"),
            (2, pre + mid_a + " tail two equal ok"),   # same mid → same block
            (3, pre + mid_a.upper().replace("OK", "zz") + " tail one equal ok"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.edit_distance_pairs(
            df, "doc_id", "text", max_dist=10, prefix_len=16, second_block_len=32
        ).collect()
    }
    assert (1, 2) in got
    assert not any(3 in p for p in got)
