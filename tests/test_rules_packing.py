"""Unit coverage for the round-3 curation operators: quality-rule
battery, decontamination, sequence packing, mixture sampling."""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.functions import col

from nyc_tlc_analytics_pipeline_spark.operators import (
    decontam,
    packing,
    rules,
    sampling,
)


# -- rules ----------------------------------------------------------------


def _flags(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    return rules.apply_rules(df, "text").head().asDict()


def test_rules_clean_doc_passes(spark):
    words = [f"word{i}" for i in range(40)]
    f = _flags(spark, " ".join(words))
    assert f["rules_pass"] is True


def test_rules_short_doc_fails_length(spark):
    f = _flags(spark, "only three tokens")
    assert f["bad_length"] is True and f["rules_pass"] is False


def test_rules_repetition_caught(spark):
    f = _flags(spark, " ".join(["spam"] * 50))
    assert f["bad_repetition"] is True
    assert f["bad_top_bigram"] is True


def test_rules_symbol_heavy_caught(spark):
    toks = [f"w{i}" for i in range(30)] + ["!!!???###"] * 10
    f = _flags(spark, " ".join(toks))
    assert f["bad_symbols"] is True


def test_rules_numeric_doc_fails_alpha(spark):
    toks = [str(i) for i in range(1000, 1040)]
    f = _flags(spark, " ".join(toks))
    assert f["bad_alpha"] is True


def test_rules_cjk_doc_is_not_penalized_for_script(spark):
    # CJK chars count as alphabetic and not as symbols
    toks = [f"的是{i}字" for i in range(40)]
    f = _flags(spark, " ".join(toks))
    assert f["bad_alpha"] is False and f["bad_symbols"] is False


def test_rules_mean_token_length_bounds(spark):
    long_words = ["x" * 30 for _ in range(40)]
    f = _flags(spark, " ".join(f"{w}{i}" for i, w in enumerate(long_words)))
    assert f["bad_mean_len"] is True


def test_filter_by_rules_keeps_only_passing(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"tok{i}" for i in range(40))), (2, "too short")],
        "doc_id long, text string",
    )
    kept = rules.filter_by_rules(df).select("doc_id").collect()
    assert [r["doc_id"] for r in kept] == [1]


def _rules_edge_frame(spark):
    """Adversarial corpus for the battery: threshold edges, CJK, null
    text, empty-ish docs, punctuation storms."""
    rows = [
        (1, " ".join(f"word{i}" for i in range(40))),          # clean pass
        (2, "only three tokens"),                               # bad_length
        (3, " ".join(["spam"] * 50)),                           # repetition + bigram
        (4, " ".join([f"w{i}" for i in range(30)] + ["!?#"] * 10)),  # symbols
        (5, " ".join(str(i) for i in range(1000, 1040))),       # alpha
        (6, " ".join(f"的是{i}字" for i in range(40))),          # CJK passes
        (7, " ".join("x" * 30 + str(i) for i in range(40))),    # mean len hi
        (8, None),                                              # null text
        (9, ""),                                                # '' -> [''] token
        (10, "   "),                                            # ws-only -> ['','']-ish
        (11, " ".join(["ab"] * 10 + [f"t{i}" for i in range(15)])),  # 25 toks, edge ratios
        # exact-threshold mean length: 40 tokens of length exactly 2
        (12, " ".join(["ab"] * 20 + [f"c{i}" for i in range(10, 30)])),
        # top-bigram exactly at the 0.1 boundary: 40 tokens, max bigram count 2
        (13, " ".join([f"u{i} v{i}" for i in range(19)] + ["u1 v1"])),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# (bad_length, bad_mean_len, bad_alpha, bad_symbols, bad_repetition,
#  bad_top_bigram, rules_pass) per doc of _rules_edge_frame — the values
# the column-expression battery (which the oracle SQL restates) produced
_T, _F = True, False
_EDGE_FLAGS = {
    1: (_F, _F, _F, _F, _F, _F, _T),
    2: (_T, _F, _F, _F, _F, _T, _F),
    3: (_F, _F, _F, _F, _T, _T, _F),
    4: (_F, _F, _T, _T, _F, _T, _F),
    5: (_F, _F, _T, _F, _F, _F, _F),
    6: (_F, _F, _F, _F, _F, _F, _T),
    7: (_F, _T, _F, _F, _F, _F, _F),
    8: (_T, None, _F, _F, _F, _F, _F),  # null tokens: size(null) = -1
    9: (_T, _T, _T, _F, _F, _F, _F),
    10: (_T, _T, _T, _F, _F, _T, _F),
    11: (_F, _F, _F, _F, _F, _T, _F),
    12: (_F, _F, _F, _F, _F, _T, _F),
    13: (_F, _F, _F, _F, _F, _F, _T),
}


def test_rules_arrow_impl_matches_expr(spark):
    """The Arrow battery reproduces, per flag and including nulls and
    rules_pass 3VL, the flags the expression battery produced."""
    df = _rules_edge_frame(spark)
    cols = ["doc_id", *rules.RULE_FLAG_NAMES, "rules_pass"]
    got = {
        r["doc_id"]: tuple(r[c] for c in cols[1:])
        for r in rules.apply_rules(df, "text").select(*cols).collect()
    }
    assert got == _EDGE_FLAGS


def test_rules_arrow_impl_matches_expr_with_precomputed_toks(spark):
    """Same flags through the q55/curation shape: tokens precomputed as a
    column, extra passthrough columns preserved."""
    from nyc_tlc_analytics_pipeline_spark.operators import text as T

    df = _rules_edge_frame(spark).withColumn("tk", T.tokens("text")).withColumn(
        "lang", F.lit("en")
    )
    out = rules.apply_rules(df, "text", toks="tk")
    assert out.columns == [*df.columns, *rules.RULE_FLAG_NAMES, "rules_pass"]
    cols = ["doc_id", "lang", *rules.RULE_FLAG_NAMES, "rules_pass"]
    got = {
        r["doc_id"]: tuple(r[c] for c in cols[1:])
        for r in out.select(*cols).collect()
    }
    assert got == {d: ("en", *flags) for d, flags in _EDGE_FLAGS.items()}
    # the token column itself must round-trip the kernel unchanged
    tk_a = out.select("doc_id", "tk").collect()
    tk_e = df.select("doc_id", "tk").collect()
    assert sorted(map(tuple, tk_a)) == sorted(map(tuple, tk_e))


# -- decontam -------------------------------------------------------------


def _mini_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six"),
            (3, "alpha beta gamma delta other tail"),  # shares 4-gram with 1
            (4, "completely different words here now"),
        ],
        "doc_id long, text string",
    )


def test_flag_contaminated_matches_naive(spark):
    corpus = _mini_corpus(spark)
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "five six seven eight")],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"] for r in decontam.flag_contaminated(corpus, bench, n=4).collect()
    )
    # naive: intersect full n-gram sets per pair
    def grams(t, n=4):
        tk = t.lower().split()
        if len(tk) < n:
            return {" ".join(tk)}
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    bench_g = set().union(*(grams(r["text"]) for r in bench.collect()))
    expect = sorted(
        r["doc_id"] for r in corpus.collect() if grams(r["text"]) & bench_g
    )
    assert got == expect == [1, 3]


def test_decontaminate_removes_flagged(spark):
    corpus = _mini_corpus(spark)
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    left = sorted(
        r["doc_id"] for r in decontam.decontaminate(corpus, bench, n=4).collect()
    )
    assert left == [2, 4]


def test_short_doc_whole_text_is_a_gram(spark):
    corpus = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "tiny doc")], "doc_id long, text string")
    assert decontam.flag_contaminated(corpus, bench, n=8).count() == 1


def test_benchmark_side_is_broadcast(spark):
    corpus = _mini_corpus(spark)
    bench = corpus.limit(1)
    plan = (
        decontam.flag_contaminated(corpus, bench, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


# -- packing --------------------------------------------------------------


def test_pack_greedy_matches_reference(spark):
    rng = random.Random(7)
    rows = [
        (s, i, rng.randint(5, 120))
        for s in ("a", "b", "c")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "stream string, ord long, n long")
    packed = packing.pack_greedy(df, "stream", "ord", "n", 256).collect()
    by_stream: dict[str, list] = {}
    for r in sorted(packed, key=lambda r: (r["stream"], r["ord"])):
        by_stream.setdefault(r["stream"], []).append(r)
    for s, rs in by_stream.items():
        expect = packing.greedy_pack_reference([r["n"] for r in rs], 256)
        got = [(r["pack_id"], r["pack_fill"]) for r in rs]
        assert got == expect, s


def test_pack_greedy_budget_invariant(spark):
    rng = random.Random(11)
    rows = [("s", i, rng.randint(5, 300)) for i in range(300)]  # some > budget
    df = spark.createDataFrame(rows, "stream string, ord long, n long")
    packed = packing.pack_greedy(df, "stream", "ord", "n", 256)
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n").alias("tot"), F.count("*").alias("cnt")
    )
    over = per_pack.filter((col("tot") > 256) & (col("cnt") > 1)).count()
    assert over == 0  # only single oversized docs may exceed the budget


def test_pack_contiguous_offsets(spark):
    df = spark.createDataFrame(
        [("s", 1, 100), ("s", 2, 100), ("s", 3, 100)],
        "stream string, ord long, n long",
    )
    got = {
        r["ord"]: (r["pack_id"], r["pack_offset"])
        for r in packing.pack_contiguous(df, "stream", "ord", "n", 256).collect()
    }
    # offsets 0, 100, 200 → packs 0,0,0 at offsets 0,100,200
    assert got == {1: (0, 0), 2: (0, 100), 3: (0, 200)}
    df2 = spark.createDataFrame(
        [("s", 1, 200), ("s", 2, 200)], "stream string, ord long, n long"
    )
    got2 = {
        r["ord"]: (r["pack_id"], r["pack_offset"])
        for r in packing.pack_contiguous(df2, "stream", "ord", "n", 256).collect()
    }
    assert got2 == {1: (0, 0), 2: (0, 200)}  # second doc STARTS in pack 0


def test_pack_contiguous_two_pass_splits_one_giant_stream(spark):
    """A SINGLE stream far larger than one range partition must (a) pack
    with exactly the sequential cumulative offsets and (b) plan a range
    shuffle, not a stream-keyed hash window — the ADVICE-r11 fix: no
    task ever windows a whole stream."""
    n = 5000
    df = spark.range(n).select(
        F.lit("only").alias("stream"),
        col("id").alias("ord"),
        (col("id") % 7 + 1).alias("n"),
    ).repartition(16)
    out = packing.pack_contiguous(df, "stream", "ord", "n", 97)
    rows_plan = out._jdf.queryExecution().executedPlan().toString()
    # the range shuffle now lives BEHIND the branch-point pin (ONE
    # cached materialization, ADVICE r12 / core.pins): both consumers
    # (offset aggregate + main frame) must read the InMemoryRelation —
    # the plan text prints the cached plan (with its range exchange)
    # under each InMemoryTableScan, so assert the cache reads rather
    # than a zero-exchange string count — and the cumulate window must
    # be keyed by (__pid, stream): per-partition slices, never a
    # whole-stream task
    assert rows_plan.count("InMemoryTableScan") >= 2
    assert "windowspecdefinition(__pid" in rows_plan
    # every printed rangepartitioning sits inside a printed copy of the
    # ONE cached plan — the post-pin plan itself adds no range exchange
    from .plan_text import count_outside_cache

    assert count_outside_cache(rows_plan, "rangepartitioning") == 0
    rows = {r["ord"]: (r["pack_id"], r["pack_offset"]) for r in out.collect()}
    assert len(rows) == n
    start = 0
    for i in range(n):
        assert rows[i] == (start // 97, start % 97), i
        start += i % 7 + 1


def test_pack_contiguous_null_stream_group_survives(spark):
    """NULL is a legal stream key (the old window form grouped it);
    the broadcast offset join must be null-safe, not silently drop."""
    df = spark.createDataFrame(
        [(None, 1, 50), (None, 2, 50), ("s", 1, 10)],
        "stream string, ord long, n long",
    )
    rows = packing.pack_contiguous(df, "stream", "ord", "n", 64).collect()
    assert len(rows) == 3
    got = {(r["stream"], r["ord"]): r["pack_offset"] for r in rows}
    assert got == {(None, 1): 0, (None, 2): 50, ("s", 1): 0}


def test_pack_greedy_input_schema_not_mutated(spark):
    df = spark.createDataFrame([("s", 1, 10)], "stream string, ord long, n long")
    before = [f.name for f in df.schema.fields]
    packing.pack_greedy(df, "stream", "ord", "n", 64)
    assert [f.name for f in df.schema.fields] == before


# -- mixture sampling -----------------------------------------------------


def _domains_df(spark):
    rows = [(i, "en") for i in range(400)]
    rows += [(1000 + i, "de") for i in range(100)]
    rows += [(2000 + i, "fr") for i in range(50)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_mixture_sample_hits_target_proportions(spark):
    df = _domains_df(spark)
    kept = sampling.mixture_sample(
        df, "lang", {"en": 0.5, "de": 0.3, "fr": 0.2}, "doc_id"
    )
    counts = {r["lang"]: r["cnt"] for r in kept.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    # binding domain: fr (50/0.2=250) → T=250 → en 125, de 75, fr 50
    assert counts == {"en": 125, "de": 75, "fr": 50}


def test_mixture_sample_deterministic_and_layout_independent(spark):
    df = _domains_df(spark)
    w = {"en": 0.6, "de": 0.2, "fr": 0.2}
    a = sorted(r["doc_id"] for r in sampling.mixture_sample(df, "lang", w, "doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in sampling.mixture_sample(df.repartition(13), "lang", w, "doc_id").collect()
    )
    assert a == b and len(a) > 0


def test_mixture_sample_zero_weight_drops_domain(spark):
    df = _domains_df(spark)
    kept = sampling.mixture_sample(df, "lang", {"en": 1.0, "de": 0.0}, "doc_id")
    langs = {r["lang"] for r in kept.select("lang").distinct().collect()}
    assert langs == {"en"}


def test_mixture_sample_rejects_bad_weights(spark):
    import pytest

    df = _domains_df(spark)
    with pytest.raises(ValueError):
        sampling.mixture_sample(df, "lang", {"en": -0.1}, "doc_id")
    with pytest.raises(ValueError):
        sampling.mixture_sample(df, "lang", {"en": 0.0}, "doc_id")
