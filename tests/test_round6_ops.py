"""Round-6 tests: the MinHash pair source for leakage-safe splits, the
approx-percentile 100 TB escape hatch, the banded-phash completeness
guard, multiset semantics of the keyless interval join, and the round-6
operators — Z-order layout + zordered writes, scalable global
row_number, serpentine shards, keep-best canonical dedup, bigram-LM
perplexity, margin mining, BPE train/encode, epoch waterfilling, PSI /
Hill statistics, power-iteration PCA (+ deflation), rendezvous
sharding, vocab-coverage planning, and the tokenize/drift CLI verbs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# leakage_safe_splits: pluggable pair source (q77's operator)
# ---------------------------------------------------------------------------

def _straddle_count(pairs, assigned):
    a = assigned.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = assigned.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )


def test_leakage_splits_minhash_default_no_straddle(spark):
    """The DEFAULT (production) pair source is MinHash-LSH; whatever
    pairs it finds must never straddle splits, and the assignment must
    be disjoint + exhaustive."""
    from nyc_tlc_analytics_pipeline_spark.operators import dedup, sampling
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    assigned = sampling.leakage_safe_splits(
        docs, "doc_id", "text",
        {"train": 0.8, "val": 0.1, "test": 0.1}, threshold=0.4,
    )
    n = docs.count()
    assert assigned.count() == n  # exhaustive, one row per doc
    assert assigned.select("split").distinct().count() <= 3
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.4
    ).select("doc_a", "doc_b")
    assert pairs.count() > 0, "fixture must contain near-dup pairs"
    assert _straddle_count(pairs, assigned) == 0


def test_leakage_splits_jaccard_mode_matches_explicit_pairs(spark):
    """pair_source='jaccard' must equal passing the exact-Jaccard pair
    frame explicitly — one code path, two entry points."""
    from nyc_tlc_analytics_pipeline_spark.operators import dedup, sampling
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    via_mode = sampling.leakage_safe_splits(
        docs, "doc_id", "text", w, salt="leak",
        pair_source="jaccard", threshold=0.4,
    ).select("doc_id", "g", "split")
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4)
    via_pairs = sampling.leakage_safe_splits(
        docs, "doc_id", "text", w, salt="leak", pairs=pairs
    ).select("doc_id", "g", "split")
    assert via_mode.exceptAll(via_pairs).count() == 0
    assert via_pairs.exceptAll(via_mode).count() == 0


def test_leakage_splits_unknown_pair_source_raises(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import sampling
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    with pytest.raises(ValueError, match="pair_source"):
        sampling.leakage_safe_splits(
            docs, "doc_id", "text", {"train": 1.0}, pair_source="nope"
        ).count()


# ---------------------------------------------------------------------------
# approx-percentile escape hatch (A6 100 TB posture) — q04/q86/q101
# ---------------------------------------------------------------------------

def _rel_err(a: float, b: float) -> float:
    return abs(a - b) / max(abs(b), 1e-12)


def test_approx_percentile_hatch_bounded_error(spark):
    """approx=True must produce the same schema and percentile values
    within 1% relative error of exact at this SF (percentile_approx's
    default accuracy of 10000 is far finer than sf0.001's group sizes,
    so the sketch should be near-exact here — this bounds regressions,
    not the sketch's worst case)."""
    from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES

    cases = {
        "q04_price_percentiles": ["price_p25", "price_p50", "price_p75"],
        "q86_winsorized_stats": ["lo_cut", "hi_cut", "winsor_avg"],
        "q101_mad_outliers": ["med", "mad"],
    }
    for qname, pct_cols in cases.items():
        build = QUERIES[qname].build
        exact = {
            tuple(r[0:2]) if qname == "q04_price_percentiles" else r[0]: r
            for r in build(spark, SF).collect()
        }
        approx = {
            tuple(r[0:2]) if qname == "q04_price_percentiles" else r[0]: r
            for r in build(spark, SF, approx=True).collect()
        }
        assert exact.keys() == approx.keys(), qname
        for key in exact:
            for c in pct_cols:
                assert _rel_err(approx[key][c], exact[key][c]) < 0.01, (
                    qname, key, c, approx[key][c], exact[key][c]
                )


# ---------------------------------------------------------------------------
# keyless interval join: multiset semantics for duplicate input rows
# ---------------------------------------------------------------------------

def test_keyless_interval_join_keeps_duplicate_rows(spark):
    """Identical input rows are distinct join participants: 2 duplicate
    left intervals × 1 overlapping right interval = 2 output rows (the
    old full-row distinct collapsed them to 1, diverging from the keyed
    path and the naive inequality join)."""
    from nyc_tlc_analytics_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [(0.0, 100.0), (0.0, 100.0)], "s double, e double"
    )
    right = spark.createDataFrame([(50.0, 60.0)], "rs double, re double")
    out = interval_overlap_join(
        left, right, "s", "e", "rs", "re", bucket_seconds=10
    )
    assert out.count() == 2
    # and bucket-induced duplicates still collapse: one left × one right
    # sharing many buckets yields exactly one pair
    single = interval_overlap_join(
        left.limit(1), right, "s", "e", "rs", "re", bucket_seconds=10
    )
    assert single.count() == 1


# ---------------------------------------------------------------------------
# round-6 extension operators: CDC chunking, gap-fill, DSIR
# ---------------------------------------------------------------------------

def test_cdc_chunking_survives_an_insertion(spark):
    """The property content-defined chunking exists for: inserting one
    token near the front re-chunks only the neighborhood of the edit —
    boundaries are content-local, so chunks after the edit keep their
    fingerprints (fixed-stride chunking would shift and lose ALL of
    them)."""
    from nyc_tlc_analytics_pipeline_spark.operators.dedup import cdc_chunks

    toks = [f"w{(i * 7) % 23}x{i % 5}" for i in range(80)]
    edited = toks[:5] + ["INSERTED"] + toks[5:]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, " ".join(edited))],
        "doc_id long, text string",
    )
    ch = cdc_chunks(df, "doc_id", "text", gram_width=2, divisor=4).collect()
    fps = {1: set(), 2: set()}
    for r in ch:
        fps[r.doc_id].add(r.chunk_fp)
    shared = fps[1] & fps[2]
    # everything except the chunk(s) touching the edit must survive
    assert len(shared) >= len(fps[1]) - 3, (len(shared), len(fps[1]))
    # and total token counts are preserved exactly
    assert sum(r.n_tokens for r in ch if r.doc_id == 1) == 80
    assert sum(r.n_tokens for r in ch if r.doc_id == 2) == 81


def test_gap_fill_daily_carries_forward_and_flags(spark):
    from nyc_tlc_analytics_pipeline_spark.operators.temporal import (
        gap_fill_daily,
    )

    df = spark.createDataFrame(
        [
            ("a", "2025-01-01 10:00:00", 1.0),
            ("a", "2025-01-01 11:00:00", 2.0),
            ("a", "2025-01-03 09:00:00", 7.0),
            ("b", "2025-01-02 09:00:00", 5.0),
        ],
        "k string, ts string, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
    out = {
        (r.k, str(r.day)): (r.value_filled, r.filled)
        for r in gap_fill_daily(df, "ts", "k", "v").collect()
    }
    assert len(out) == 6  # 2 keys x 3 spine days
    assert out[("a", "2025-01-01")] == (3.0, False)   # 1+2 summed
    assert out[("a", "2025-01-02")] == (3.0, True)    # gap, carried
    assert out[("a", "2025-01-03")] == (7.0, False)
    assert out[("b", "2025-01-01")] == (None, True)   # before first obs
    assert out[("b", "2025-01-02")] == (5.0, False)
    assert out[("b", "2025-01-03")] == (5.0, True)    # carried


def test_dsir_selection_is_layout_independent(spark):
    from nyc_tlc_analytics_pipeline_spark.operators.sampling import (
        dsir_importance_select,
    )
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "lang", "text")
    target = docs.filter(F.col("lang") == "en")
    raw = docs.filter(F.col("lang") != "en")
    a = sorted(
        r.doc_id
        for r in dsir_importance_select(raw, target, ["doc_id"], k=15).collect()
    )
    b = sorted(
        r.doc_id
        for r in dsir_importance_select(
            raw.repartition(7), target.repartition(3), ["doc_id"], k=15
        ).collect()
    )
    assert a == b and len(a) == 15


def test_dsir_identical_distributions_score_near_zero(spark):
    """target == raw (token-identical corpora) => every log importance
    ratio is exactly 0 after rounding: smoothing terms cancel."""
    from nyc_tlc_analytics_pipeline_spark.operators.sampling import (
        dsir_importance_select,
    )

    rows = [(i, f"alpha beta gamma w{i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sel = dsir_importance_select(df, df, ["doc_id"], k=5).collect()
    assert len(sel) == 5
    # exactly the nudge epsilon survives the 9-dp rounding of 0
    assert all(abs(r.logw) <= 1e-9 for r in sel)


# ---------------------------------------------------------------------------
# layout.zorder_key / zorder_file_profile / write_zordered (q115's operator)
# ---------------------------------------------------------------------------

def _morton(vals: list[int], bits: int) -> int:
    z = 0
    for d, v in enumerate(vals):
        for b in range(bits):
            z |= ((v >> b) & 1) << (b * len(vals) + d)
    return z


def test_zorder_key_matches_pure_python(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import layout

    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (1234, 4321)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", layout.zorder_key(["x", "y"], bits=16)
        ).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton([x, y], 16), (x, y)


def test_zorder_key_rejects_overflow_and_single_dim(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import layout

    with pytest.raises(ValueError):
        layout.zorder_key(["x"], bits=16)
    with pytest.raises(ValueError):
        layout.zorder_key(["x", "y", "z", "w"], bits=16)  # 64 bits > 63


def test_zorder_write_produces_tight_per_file_stats(spark, tmp_path):
    """A Z-ordered write must let a range probe on EITHER dimension skip
    most files; a layout sorted by one column alone cannot do both."""
    import glob

    from nyc_tlc_analytics_pipeline_spark.operators import layout

    n, files = 4096, 16
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    out = str(tmp_path / "zord")
    layout.write_zordered(df, ["x", "y"], out, n_files=files, bits=6)

    def files_scanned(col_name, lo, hi):
        scanned = 0
        for f in sorted(glob.glob(out + "/part-*.parquet")):
            stats = spark.read.parquet(f).agg(
                F.min(col_name), F.max(col_name)
            ).collect()[0]
            if stats[0] <= hi and stats[1] >= lo:
                scanned += 1
        return scanned

    # an 1/8th-of-domain probe on each dimension: the Z-layout must skip
    # at least half the files for BOTH (single-column sort skips for one)
    assert files_scanned("x", 0, 7) <= files // 2
    assert files_scanned("y", 0, 7) <= files // 2
    back = spark.read.parquet(out)
    assert back.count() == n
    assert back.groupBy().agg(F.sum("x"), F.sum("y")).collect() == df.groupBy().agg(
        F.sum("x"), F.sum("y")
    ).collect()


# ---------------------------------------------------------------------------
# layout.global_row_number / serpentine_shards (q116's operator)
# ---------------------------------------------------------------------------

def test_global_row_number_matches_single_window(spark):
    from pyspark.sql import Window

    from nyc_tlc_analytics_pipeline_spark.operators import layout

    df = spark.range(500).select(
        F.col("id"), (F.xxhash64("id") % 97).alias("size")
    )
    order = [F.col("size").desc(), F.col("id")]
    want = df.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )
    got = layout.global_row_number(df, order, n_partitions=7)
    assert got.count() == 500
    diff = want.select("id", "rank").exceptAll(got.select("id", "rank"))
    assert diff.count() == 0


def test_global_row_number_is_layout_independent(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import layout

    df = spark.range(300).select(F.col("id"), (F.col("id") * 7 % 31).alias("k"))
    order = [F.col("k"), F.col("id")]
    a = layout.global_row_number(df.repartition(13), order, n_partitions=5)
    b = layout.global_row_number(df.coalesce(1), order, n_partitions=3)
    assert a.select("id", "rank").exceptAll(b.select("id", "rank")).count() == 0


def test_serpentine_shards_balance_and_coverage(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import layout

    n_shards = 8
    df = spark.range(1000).select(
        F.col("id"), (F.xxhash64("id") % 1000 + 1000).alias("tokens")
    )
    dealt = layout.serpentine_shards(df, "tokens", "id", n_shards)
    per = {
        r.shard: (r.n, r.tok)
        for r in dealt.groupBy("shard")
        .agg(F.count("*").alias("n"), F.sum("tokens").alias("tok"))
        .collect()
    }
    assert sorted(per) == list(range(n_shards))
    counts = [per[s][0] for s in range(n_shards)]
    toks = [per[s][1] for s in range(n_shards)]
    assert max(counts) - min(counts) <= 1
    # serpentine keeps totals within one max-item of each other
    assert max(toks) - min(toks) <= 2000
    with pytest.raises(ValueError):
        layout.serpentine_shards(df, "tokens", "id", 0)


# ---------------------------------------------------------------------------
# dedup.canonical_keep_best (q114's operator)
# ---------------------------------------------------------------------------

def test_canonical_keep_best_picks_highest_score(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0), (4, 5.0), (5, 99.0)],
        "doc_id long, score double",
    )
    # {1,2,3} one cluster (transitive), {4} paired with nothing -> wait,
    # pairs must mention 4 to cluster it; here 4 and 5 are singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = dedup.canonical_keep_best(docs, pairs, "doc_id", "score")
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[2].keep and rows[2].cluster_size == 3
    assert not rows[1].keep and not rows[3].keep
    assert rows[1].cluster_id == rows[2].cluster_id == rows[3].cluster_id == 1
    assert rows[4].keep and rows[4].cluster_size == 1 and rows[4].cluster_id == 4
    assert rows[5].keep and rows[5].cluster_id == 5


def test_canonical_keep_best_tie_breaks_on_min_id(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import dedup

    docs = spark.createDataFrame(
        [(7, 1.0), (8, 1.0), (9, 1.0)], "doc_id long, score double"
    )
    pairs = spark.createDataFrame([(8, 9), (7, 9)], "doc_a long, doc_b long")
    out = dedup.canonical_keep_best(docs, pairs, "doc_id", "score")
    keepers = sorted(r.doc_id for r in out.collect() if r.keep)
    assert keepers == [7]


# ---------------------------------------------------------------------------
# lm.doc_bigram_perplexity (q117's operator)
# ---------------------------------------------------------------------------

def test_bigram_perplexity_hand_computed(spark):
    import math

    from nyc_tlc_analytics_pipeline_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in lm.doc_bigram_perplexity(docs, ["doc_id"]).collect()}
    # corpus bigrams: d1: (a b),(b a),(a b); d2: (a a)
    # c2: ab=2, ba=1, aa=1 ; cprev: a=3, b=1 ; V=2 ; k=1
    p_ab = (2 + 1) / (3 + 2)
    p_ba = (1 + 1) / (1 + 2)
    p_aa = (1 + 1) / (3 + 2)
    want1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    want2 = -math.log(p_aa) / 1
    assert abs(out[1].log_ppl - want1) < 1e-9
    assert abs(out[2].log_ppl - want2) < 1e-9
    assert out[1].n_bigrams == 3 and out[2].n_bigrams == 1


def test_bigram_perplexity_short_docs_drop_and_heldout_stats(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import lm

    ref = spark.createDataFrame([(1, "x y x y x y")], "doc_id long, text string")
    stats = lm.corpus_bigram_stats(ref)
    docs = spark.createDataFrame(
        [(10, "x y"), (11, "q"), (12, "y x")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in
            lm.doc_bigram_perplexity(docs, ["doc_id"], stats=stats).collect()}
    assert 11 not in rows  # single token: no bigrams to score
    # "x y" is the reference's dominant transition: strictly less
    # surprising than the reverse "y x"
    assert rows[10].log_ppl < rows[12].log_ppl


# ---------------------------------------------------------------------------
# similarity.margin_mine_pairs (q118's operator)
# ---------------------------------------------------------------------------

def test_margin_mining_finds_planted_alignment(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import similarity

    dim = 8
    planes = similarity.random_hyperplanes(2, dim, seed=7)

    def vec(seed):
        import random

        rng = random.Random(seed)
        return [rng.uniform(-1, 1) for _ in range(dim)]

    base = vec(1)
    a_rows = [(0, base)] + [(i, vec(100 + i)) for i in range(1, 6)]
    # b-side 10 is a near-copy of a-side 0; rest random
    b_rows = [(10, [x + 0.01 for x in base])] + [
        (10 + i, vec(200 + i)) for i in range(1, 6)
    ]
    a = spark.createDataFrame(a_rows, "vec_id long, embedding array<double>")
    b = spark.createDataFrame(b_rows, "vec_id long, embedding array<double>")
    mined = {
        r.vec_a: r for r in similarity.margin_mine_pairs(a, b, planes, k=3).collect()
    }
    assert mined[0].vec_b == 10
    assert mined[0].cos_sim > 0.99
    # the near-copy clears its neighborhood mean by a solid margin
    assert mined[0].margin > 0.05


# ---------------------------------------------------------------------------
# text.bpe_train_merges (q119's operator)
# ---------------------------------------------------------------------------

def test_bpe_learns_and_applies_merges(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import text as T

    # classic BPE toy: "ab" dominates, then "abc" builds ON the merge
    docs = spark.createDataFrame(
        [(1, "abc abc abc abd"), (2, "abc abd xy")],
        "doc_id long, text string",
    )
    merges = T.bpe_train_merges(docs, n_merges=3)
    assert [(m[1], m[2]) for m in merges[:2]] == [("a", "b"), ("ab", "c")]
    # counts: ab appears in every abc/abd token occurrence = 6
    assert merges[0][3] == 6
    # avg symbols strictly decreases while merges apply
    avgs = [m[4] for m in merges]
    assert all(x > y for x, y in zip(avgs, avgs[1:]))


def test_bpe_tie_break_is_lexicographic(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import text as T

    # "xy" and "ab" both occur exactly twice -> (count DESC, l, r) picks ab
    docs = spark.createDataFrame([(1, "xy xy ab ab")], "doc_id long, text string")
    merges = T.bpe_train_merges(docs, n_merges=1)
    assert (merges[0][1], merges[0][2]) == ("a", "b")


# ---------------------------------------------------------------------------
# text.bpe_encode_symbol_count (q120's operator)
# ---------------------------------------------------------------------------

def test_bpe_encode_applies_merges_in_order(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import text as T

    docs = spark.createDataFrame([(1, "abc ab x")], "doc_id long, text string")
    # merge tuples follow bpe_train_merges shape: (round, l, r, count, stat)
    merges = [(1, "a", "b", 0, 0.0), (2, "ab", "c", 0, 0.0)]
    n = docs.select(T.bpe_encode_symbol_count("text", merges).alias("n")).head().n
    # "abc" -> <abc> (1), "ab" -> <ab> (1), "x" -> <x> (1)
    assert n == 3
    # without the second merge, "abc" stays <ab><c>
    n1 = docs.select(
        T.bpe_encode_symbol_count("text", merges[:1]).alias("n")
    ).head().n
    assert n1 == 4


def test_bpe_encode_matches_training_stat(spark):
    """Encoding the SAME corpus the merges were trained on must
    reproduce the trainer's weighted avg_symbols_after for the final
    round (the trainer computes it on the vocab, the encoder on docs)."""
    from nyc_tlc_analytics_pipeline_spark.operators import text as T
    from pyspark.sql import functions as F

    SF = "/root/testdata/sf0.001"
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    merges = T.bpe_train_merges(docs, n_merges=3)
    got = docs.select(
        T.bpe_encode_symbol_count("text", merges).alias("bpe"),
        T.token_count("text").alias("ws"),
    ).agg((F.sum("bpe") / F.sum("ws")).alias("spw")).head().spw
    assert abs(got - merges[-1][4]) < 1e-4


# ---------------------------------------------------------------------------
# sampling.epoch_allocation (q121's operator)
# ---------------------------------------------------------------------------

def test_epoch_allocation_waterfills_exactly(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import sampling

    counts = spark.createDataFrame(
        [("a", 100), ("b", 1000), ("c", 1000)], "domain string, tokens long"
    )
    # budget 1500, equal thirds, cap 2 epochs: a caps at 200, b/c share
    # the rest at rate (1500-200)/(2/3) = 1950 -> 650 each
    out = {r.domain: r for r in sampling.epoch_allocation(
        counts, "domain", "tokens", {"a": 1, "b": 1, "c": 1}, 1500, 2
    ).collect()}
    assert out["a"].capped and out["a"].tokens_alloc == 200.0
    assert not out["b"].capped and abs(out["b"].tokens_alloc - 650.0) < 0.01
    assert abs(out["c"].tokens_alloc - 650.0) < 0.01
    total = sum(r.tokens_alloc for r in out.values())
    assert abs(total - 1500.0) < 0.1


def test_epoch_allocation_all_capped_leaves_budget_unfilled(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import sampling

    counts = spark.createDataFrame(
        [("a", 10), ("b", 10)], "domain string, tokens long"
    )
    out = {r.domain: r for r in sampling.epoch_allocation(
        counts, "domain", "tokens", {"a": 1, "b": 1}, 10_000, 3
    ).collect()}
    assert all(r.capped for r in out.values())
    assert all(r.epochs == 3.0 for r in out.values())


def test_epoch_allocation_zero_weight_domain_dropped(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import sampling

    counts = spark.createDataFrame(
        [("a", 100), ("junk", 999)], "domain string, tokens long"
    )
    out = sampling.epoch_allocation(
        counts, "domain", "tokens", {"a": 1.0}, 50, 2
    ).collect()
    assert [r.domain for r in out] == ["a"]
    with pytest.raises(ValueError):
        sampling.epoch_allocation(counts, "domain", "tokens", {}, 50, 2)


# ---------------------------------------------------------------------------
# q123 PSI / q124 Hill — statistical sanity on planted distributions
# ---------------------------------------------------------------------------

def test_psi_zero_for_identical_halves_and_positive_for_shift(spark):
    """PSI over identical distributions ≈ 0; a hard mean shift between
    eras produces a large PSI.  Exercises the exact q123 formula via a
    tiny replicated frame."""
    import math

    def psi(ref_counts, cur_counts, eps=1e-6):
        nr, nc = sum(ref_counts), sum(cur_counts)
        s = 0.0
        for r, c in zip(ref_counts, cur_counts):
            pr, pc = r / nr + eps, c / nc + eps
            s += (pc - pr) * math.log(pc / pr)
        return s

    same = psi([10, 20, 30], [10, 20, 30])
    shifted = psi([10, 20, 30], [30, 20, 10])
    assert abs(same) < 1e-9
    assert shifted > 0.1


def test_hill_alpha_on_exact_pareto_frequencies(spark):
    """Token frequencies f_i = round(C / i^a) have tail index ≈ a; the
    Hill estimator over the top-k must land near it."""
    from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES

    # build a corpus whose token i appears ~C/i times (zipf a=1)
    C, V = 600, 40
    rows = []
    did = 0
    for i in range(1, V + 1):
        reps = max(C // i, 1)
        for start in range(0, reps, 20):
            did += 1
            rows.append((did, " ".join([f"tok{i:03d}"] * min(20, reps - start))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").parquet(os.path.join(td, "documents.parquet"))
        out = QUERIES["q124_hill_tail_index"].build(spark, td).head()
    assert 0.8 < out.alpha < 1.25, out.alpha


# ---------------------------------------------------------------------------
# CLI: tokenize verb (BPE train + encode report)
# ---------------------------------------------------------------------------

def test_cli_tokenize_reports_merges_and_compression(spark, tmp_path, capsys):
    import json

    from nyc_tlc_analytics_pipeline_spark.cli import main

    out_json = str(tmp_path / "merges.json")
    rc = main([
        "--warehouse-dir", str(tmp_path / "wh"),
        "tokenize", "--sf-dir", SF, "--merges", "3", "--out", out_json,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out)
    assert len(rep["merges"]) == 3
    assert all(v > 1.0 for v in rep["per_source"].values())
    saved = json.load(open(out_json))
    assert [m["round"] for m in saved] == [1, 2, 3]


# ---------------------------------------------------------------------------
# layout.rendezvous_shard (q125's operator)
# ---------------------------------------------------------------------------

def test_rendezvous_minimal_resharding_vs_modulo(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import layout

    n = 2000
    df = spark.range(n).select(F.col("id"))
    moved_hrw = df.select(
        (layout.rendezvous_shard("id", 8) != layout.rendezvous_shard("id", 9))
        .cast("long").alias("m")
    ).agg(F.sum("m")).head()[0]
    moved_mod = df.select(
        ((F.col("id") % 8) != (F.col("id") % 9)).cast("long").alias("m")
    ).agg(F.sum("m")).head()[0]
    # HRW moves ~1/9 of keys; modulo moves ~8/9
    assert moved_hrw / n < 0.2
    assert moved_mod / n > 0.7
    # every key either stays or moves TO the new shard (nothing
    # reshuffles between old shards — the defining HRW property)
    bad = df.select(
        layout.rendezvous_shard("id", 8).alias("a"),
        layout.rendezvous_shard("id", 9).alias("b"),
    ).filter((F.col("a") != F.col("b")) & (F.col("b") != 8)).count()
    assert bad == 0


def test_rendezvous_uniform_and_deterministic(spark):
    from nyc_tlc_analytics_pipeline_spark.operators import layout

    df = spark.range(4000)
    per = {
        r.s: r.n
        for r in df.select(layout.rendezvous_shard("id", 8).alias("s"))
        .groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    assert sorted(per) == list(range(8))
    assert max(per.values()) < 2 * min(per.values())
    a = df.select("id", layout.rendezvous_shard("id", 8).alias("s")).collect()
    b = df.coalesce(1).select("id", layout.rendezvous_shard("id", 8).alias("s")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError):
        layout.rendezvous_shard("id", 0)


# ---------------------------------------------------------------------------
# linalg.power_iteration_top_pc (q126's operator)
# ---------------------------------------------------------------------------

def test_power_iteration_recovers_planted_direction(spark):
    import math
    import random

    import numpy as np

    from nyc_tlc_analytics_pipeline_spark.operators import linalg

    rng = random.Random(11)
    dim, n = 16, 400
    u = [1.0 if i < 4 else 0.0 for i in range(dim)]  # planted axis
    rows = []
    for _ in range(n):
        a = rng.gauss(0, 3)
        rows.append(([a * ui + rng.gauss(0, 0.3) for ui in u],))
    df = spark.createDataFrame(rows, "embedding array<double>")
    vec, eig, share = linalg.power_iteration_top_pc(
        df, "embedding", dim=dim, n_iter=8
    )
    # compare against numpy's exact top eigenvector of the covariance
    X = np.array([r[0] for r in rows])
    C = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(C)
    top = evecs[:, -1]
    cos = abs(float(np.dot(vec, top) / (np.linalg.norm(vec))))
    assert cos > 0.99, cos
    assert abs(eig - evals[-1]) / evals[-1] < 0.05
    assert share > 0.5  # the planted axis dominates total variance
    # deterministic sign: largest-|loading| component is positive
    j = max(range(dim), key=lambda i: (abs(vec[i]), -i))
    assert vec[j] > 0
    with pytest.raises(ValueError):
        linalg.power_iteration_top_pc(df.limit(0), "embedding", dim=dim)


# ---------------------------------------------------------------------------
# q127 vocab coverage planner
# ---------------------------------------------------------------------------

def test_vocab_coverage_picks_largest_qualifying_threshold(spark, tmp_path):
    """Hand-built bigram distribution: 'a a' x9, 'b b' x6, 'c c' x4,
    'd d' x1 (20 gram occurrences).  Coverage by threshold: f>=9 ->
    0.45, f>=6 -> 0.75, f>=4 -> 0.95, f>=1 -> 1.0.  Target 0.9 must
    pick f*=4 (the LARGEST qualifying threshold - smallest vocab), not
    f*=1."""
    import os

    from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES

    def rep(tok, n):  # n occurrences of bigram (tok tok) = n+1 tokens
        return " ".join([tok] * (n + 1))

    docs = spark.createDataFrame(
        [(1, rep("a", 9)), (2, rep("b", 6)), (3, rep("c", 4)), (4, rep("d", 1))],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(os.path.join(str(tmp_path), "documents.parquet"))
    out = {r.target: r for r in QUERIES["q127_vocab_coverage"].build(
        spark, str(tmp_path)
    ).collect()}
    assert out[0.9].freq_threshold == 4
    assert out[0.9].vocab_size == 3
    assert abs(out[0.9].coverage - 0.95) < 1e-6
    assert out[0.99].freq_threshold == 1
    assert out[0.99].vocab_size == 4


def test_cli_drift_reports_psi_and_exit_code(spark, tmp_path, capsys):
    import json

    from nyc_tlc_analytics_pipeline_spark.cli import main

    ref = spark.createDataFrame(
        [("a", float(v % 50)) for v in range(200)], "event_type string, value double"
    )
    # current shifted far right -> must drift
    cur = spark.createDataFrame(
        [("a", 400.0 + v % 50) for v in range(200)], "event_type string, value double"
    )
    rp, cp = str(tmp_path / "ref"), str(tmp_path / "cur")
    ref.write.parquet(rp); cur.write.parquet(cp)
    rc = main(["--warehouse-dir", str(tmp_path / "wh"), "drift",
               "--ref", rp, "--cur", cp])
    rep = json.loads(capsys.readouterr().out)
    assert rc == 4 and rep["a"]["drifted"] and rep["a"]["psi"] > 1.0
    rc2 = main(["--warehouse-dir", str(tmp_path / "wh"), "drift",
                "--ref", rp, "--cur", rp])
    rep2 = json.loads(capsys.readouterr().out)
    assert rc2 == 0 and not rep2["a"]["drifted"]


def test_deflated_second_pc_matches_numpy(spark):
    import random

    import numpy as np

    from nyc_tlc_analytics_pipeline_spark.operators import linalg

    rng = random.Random(5)
    dim, n = 12, 400
    u1 = [1.0 if i < 3 else 0.0 for i in range(dim)]
    u2 = [1.0 if 3 <= i < 6 else 0.0 for i in range(dim)]
    rows = []
    for _ in range(n):
        a, b = rng.gauss(0, 4), rng.gauss(0, 2)
        rows.append((
            [a * x + b * y + rng.gauss(0, 0.2) for x, y in zip(u1, u2)],
        ))
    df = spark.createDataFrame(rows, "embedding array<double>")
    v1, e1, _ = linalg.power_iteration_top_pc(df, "embedding", dim=dim, n_iter=10)
    v2, e2, _ = linalg.power_iteration_top_pc(
        df, "embedding", dim=dim, n_iter=10, deflate=((e1, v1),)
    )
    X = np.array([r[0] for r in rows])
    C = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(C)
    assert abs(float(np.dot(v2, evecs[:, -2]))) > 0.99
    assert abs(e2 - evals[-2]) / evals[-2] < 0.05
    assert abs(sum(a * b for a, b in zip(v1, v2))) < 1e-3  # orthogonal
    assert e2 < e1
