"""Round-5 operator tests: span removal/redaction (q75/q76), the
Arrow k-means kernel, and leakage-safe splits (q77)."""

from __future__ import annotations

from nyc_tlc_analytics_pipeline_spark.operators.dedup import (
    remove_duplicated_spans,
)

BOILER = "the quick brown fox jumps over the lazy dog today"  # 10 tokens


def test_span_removal_strips_shared_boilerplate(spark):
    df = spark.createDataFrame(
        [
            (1, "s1", "a unique sentence one " + BOILER),
            (2, "s1", "another unique sentence here " + BOILER),
            (3, "s2", "totally original text with no duplicate span at all"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicated_spans(
            df, "doc_id", "text", n=10, keep_cols=["source"]
        ).collect()
    }
    assert out[1].text_clean == "a unique sentence one"
    assert out[1].n_removed == 10 and out[1].n_tokens == 14
    assert out[2].text_clean == "another unique sentence here"
    assert out[3].n_removed == 0
    assert out[3].text_clean == "totally original text with no duplicate span at all"
    assert out[3].source == "s2"


def test_span_removal_overlapping_spans_count_positions_once(spark):
    # 11 shared tokens → two overlapping duplicated 10-grams; the union
    # of covered positions is 11, not 20
    shared = BOILER + " again"
    df = spark.createDataFrame(
        [(1, "x " + shared), (2, "y " + shared)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicated_spans(df, "doc_id", "text", n=10).collect()
    }
    assert out[1].n_removed == 11
    assert out[1].text_clean == "x"


def test_span_removal_whole_doc_duplicate_yields_empty_clean_text(spark):
    df = spark.createDataFrame(
        [(1, BOILER), (2, BOILER)], "doc_id long, text string"
    )
    out = remove_duplicated_spans(df, "doc_id", "text", n=10).collect()
    assert all(r.n_removed == r.n_tokens == 10 for r in out)
    assert all(r.text_clean == "" for r in out)


def test_span_removal_short_docs_compare_whole_text(spark):
    # docs shorter than n: the whole text is the single gram (matching
    # duplicated_span_stats / decontam word_ngrams semantics), so two
    # identical short docs erase each other, a distinct one survives
    df = spark.createDataFrame(
        [(1, "tiny dup"), (2, "tiny dup"), (3, "tiny original")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicated_spans(df, "doc_id", "text", n=10).collect()
    }
    assert out[1].text_clean == "" and out[1].n_removed == 2
    assert out[3].text_clean == "tiny original" and out[3].n_removed == 0


def test_span_removal_min_df_threshold(spark):
    df = spark.createDataFrame(
        [(1, "a " + BOILER), (2, "b " + BOILER), (3, "c " + BOILER)],
        "doc_id long, text string",
    )
    # min_df=4 > document frequency 3 → nothing removed
    out = remove_duplicated_spans(df, "doc_id", "text", n=10, min_df=4).collect()
    assert all(r.n_removed == 0 for r in out)


def test_redact_contaminated_spans(spark):
    from nyc_tlc_analytics_pipeline_spark.operators.decontam import (
        redact_contaminated_spans,
    )

    bench = spark.createDataFrame(
        [(100, "what is the capital of france")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "s1", "quiz answer what is the capital of france paris obviously"),
            (2, "s2", "nothing benchmark related in this document at all"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r.doc_id: r
        for r in redact_contaminated_spans(
            corpus, bench, n=4, keep_cols=["source"]
        ).collect()
    }
    # every 4-gram of the bench sentence is a bench gram; the covered
    # span in doc 1 is tokens 3..8 ("what ... france") = 6 tokens
    assert out[1].n_removed == 6
    assert out[1].text_clean == "quiz answer paris obviously"
    assert out[2].n_removed == 0
    assert out[2].text_clean == out[2].text_clean.lower()


def test_redact_spans_bench_probe_is_broadcast(spark, tmp_path):
    """The benchmark gram set must broadcast — corpus rows never shuffle
    on the gram key.  Since the round-9 reference-corpus gate, the
    broadcast requires a REAL size estimate: a parquet-backed bench (the
    production shape) broadcasts; an estimate-less local frame fails
    CLOSED to the merge path (never an unbounded forced broadcast)."""
    from nyc_tlc_analytics_pipeline_spark.operators.decontam import (
        redact_contaminated_spans,
    )

    local_bench = spark.createDataFrame(
        [(9, "a b c d")], "doc_id long, text string"
    )
    local_bench.write.parquet(str(tmp_path / "bench"))
    bench = spark.read.parquet(str(tmp_path / "bench"))
    corpus = spark.createDataFrame(
        [(1, "x a b c d y")], "doc_id long, text string"
    )
    df = redact_contaminated_spans(corpus, bench, n=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    fallback = redact_contaminated_spans(corpus, local_bench, n=4)
    assert "SortMergeJoin" in (
        fallback._jdf.queryExecution().executedPlan().toString()
    )


def test_leakage_safe_split_never_straddles_pairs(spark):
    """The property q77 exists for: every near-dup pair lands in ONE
    split (group-keyed hash), which a doc-keyed split violates."""
    from nyc_tlc_analytics_pipeline_spark.operators import (
        dedup as D,
        graph,
        sampling,
    )
    from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4).select(
        "doc_a", "doc_b"
    )
    assert pairs.count() > 0, "fixture must contain near-dup pairs"
    cc = graph.connected_components(pairs)
    grouped = (
        docs.select("doc_id")
        .join(cc.selectExpr("node AS doc_id", "component"), "doc_id", "left")
        .withColumn("g", F.coalesce("component", "doc_id"))
    )
    assigned = sampling.assign_split(
        grouped, "g", {"train": 0.9, "val": 0.05, "test": 0.05}, salt="leak"
    ).select("doc_id", "split")
    straddle = (
        pairs.join(assigned.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("split", "split_a")
        .join(
            assigned.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "split", "split_b"
            ),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert straddle == 0


def test_incremental_dedup_report_partitions_the_batch(spark):
    from nyc_tlc_analytics_pipeline_spark.operators.dedup import (
        incremental_dedup_report,
    )

    existing = spark.createDataFrame(
        [(1, "s", "alpha beta gamma"), (2, "s", "delta epsilon zeta")],
        "doc_id long, source string, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "s", "Alpha  beta GAMMA"),   # dup of store (normalized)
            (11, "s", "eta theta iota"),      # new
            (12, "s", "eta theta iota"),      # within-batch dup of 11
            (13, "s", "kappa lambda mu"),     # new
        ],
        "doc_id long, source string, text string",
    )
    r = incremental_dedup_report(
        batch, existing, "doc_id", "text", "source"
    ).collect()[0]
    assert (r.n_batch, r.n_dup_vs_existing, r.n_dup_in_batch, r.n_new) == (
        4,
        1,
        1,
        2,
    )
    assert r.n_batch == r.n_dup_vs_existing + r.n_dup_in_batch + r.n_new


def test_span_removal_matches_python_reference_on_random_corpora(spark):
    """Differential fuzz: remove_duplicated_spans vs an independent
    pure-Python reference over random small corpora drawn from a tiny
    vocabulary (maximizing accidental n-gram collisions).  Catches
    off-by-one span arithmetic the fixed oracle corpus can't."""
    import random

    from nyc_tlc_analytics_pipeline_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    rng = random.Random(42)
    vocab = ["a", "b", "c"]

    def reference(docs, n, min_df=2):
        grams = {}
        for did, text in docs:
            toks = text.lower().split()
            k = max(len(toks) - n + 1, 1)
            seen = set()
            for i in range(k):
                g = " ".join(toks[i : i + n])
                if g not in seen:
                    grams[g] = grams.get(g, 0) + 1
                    seen.add(g)
        out = {}
        for did, text in docs:
            toks = text.lower().split()
            k = max(len(toks) - n + 1, 1)
            covered = set()
            for i in range(k):
                g = " ".join(toks[i : i + n])
                if grams[g] >= min_df:
                    covered.update(range(i, min(i + n, len(toks))))
            kept = [t for j, t in enumerate(toks) if j not in covered]
            out[did] = (len(toks), len(toks) - len(kept), " ".join(kept))
        return out

    for trial in range(5):
        n = rng.choice([2, 3])
        docs = [
            (
                did,
                " ".join(
                    rng.choice(vocab) for _ in range(rng.randint(1, 12))
                ),
            )
            for did in range(1, rng.randint(4, 10))
        ]
        want = reference(docs, n)
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
            for r in remove_duplicated_spans(
                spark.createDataFrame(docs, "doc_id long, text string"),
                "doc_id",
                "text",
                n=n,
            ).collect()
        }
        assert got == want, f"trial {trial} n={n} docs={docs}"


def test_temperature_mixture_alpha_endpoints(spark):
    """alpha=1 keeps raw proportions (nothing dropped: T = total);
    alpha=0 equalizes domains (every domain capped at the smallest)."""
    from nyc_tlc_analytics_pipeline_spark.operators.sampling import (
        mixture_sample_temperature,
    )

    rows = [(i, "big") for i in range(90)] + [(1000 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    a1 = mixture_sample_temperature(df, "lang", 1.0, "doc_id")
    got1 = {r.lang: r.n for r in a1.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert got1 == {"big": 90, "small": 10}

    a0 = mixture_sample_temperature(df, "lang", 0.0, "doc_id")
    got0 = {r.lang: r.n for r in a0.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert got0 == {"big": 10, "small": 10}

    # intermediate alpha up-weights the small domain relative to raw
    ah = mixture_sample_temperature(df, "lang", 0.5, "doc_id")
    goth = {r.lang: r.n for r in ah.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert goth["small"] == 10  # binding domain kept whole
    assert 10 < goth["big"] < 90  # big domain downsampled, not erased


def test_chunk_starts_edge_cases(spark):
    from pyspark.sql import functions as F

    from nyc_tlc_analytics_pipeline_spark.operators.text import (
        chunk_starts,
        tokens,
    )

    df = spark.createDataFrame(
        [
            (1, ""),  # whitespace-split of "" -> [""] (1 token)
            (2, "a"),
            (3, " ".join(f"t{i}" for i in range(32))),  # exactly one stride
            (4, " ".join(f"t{i}" for i in range(33))),  # one past the stride
            (5, " ".join(f"t{i}" for i in range(97))),  # 4 chunks at stride 32
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.starts
        for r in df.select(
            "doc_id", chunk_starts(tokens("text"), 32).alias("starts")
        ).collect()
    }
    # matches DuckDB range(0, greatest(len(toks), 1), 32) exactly
    assert got[1] == [0]
    assert got[2] == [0]
    assert got[3] == [0]
    assert got[4] == [0, 32]
    assert got[5] == [0, 32, 64, 96]


def test_q85_chunk_counts_per_doc(spark):
    """A 97-token doc at window 64 / stride 32 yields 4 chunks whose
    lengths are 64, 64, 33, 1 — slice() clamps at the end of the doc."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col, lit

    from nyc_tlc_analytics_pipeline_spark.operators.text import (
        chunk_starts,
        tokens,
    )

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(97)))], "doc_id long, text string"
    )
    chunks = (
        df.select("doc_id", tokens("text").alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(chunk_starts(col("toks"), 32)).alias("s"),
        )
        .select(
            "s", F.size(F.slice(col("toks"), col("s") + 1, lit(64))).alias("n")
        )
        .collect()
    )
    assert {(r.s, r.n) for r in chunks} == {(0, 64), (32, 64), (64, 33), (96, 1)}
