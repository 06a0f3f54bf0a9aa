"""BM25 retrieval: hand-computed micro corpus, additive multi-term scores,
empty-query rejection."""

from __future__ import annotations

import math

from nyc_tlc_analytics_pipeline_spark.operators import retrieval


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple cherry cherry cherry"),
            (3, "durian elderberry fig"),
            (4, "apple apple apple apple"),
        ],
        "doc_id long, text string",
    )


def test_bm25_matches_hand_computation(spark):
    df = _corpus(spark)
    got = {
        r["doc_id"]: r["bm25"]
        for r in retrieval.bm25_scores(df, ["apple"], ["doc_id"]).collect()
    }
    n, df_t, avgdl = 4, 3, (3 + 4 + 3 + 4) / 4.0
    idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))

    def s(tf, dl):
        k1, b = retrieval.K1, retrieval.B
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert abs(got[1] - s(2, 3)) < 1e-12
    assert abs(got[2] - s(1, 4)) < 1e-12
    assert abs(got[4] - s(4, 4)) < 1e-12
    assert 3 not in got  # no match → absent


def test_multi_term_sums_and_counts(spark):
    df = _corpus(spark)
    row = (
        retrieval.bm25_scores(df, ["apple", "banana"], ["doc_id"])
        .filter("doc_id = 1")
        .head()
    )
    assert row["n_terms_matched"] == 2
    one_a = retrieval.bm25_scores(df, ["apple"], ["doc_id"]).filter("doc_id = 1").head()
    one_b = retrieval.bm25_scores(df, ["banana"], ["doc_id"]).filter("doc_id = 1").head()
    # df counts are per-term and independent, so scores add exactly
    assert abs(row["bm25"] - (one_a["bm25"] + one_b["bm25"])) < 1e-12


def test_empty_query_rejected(spark):
    import pytest

    with pytest.raises(ValueError):
        retrieval.bm25_scores(_corpus(spark), [], ["doc_id"])
