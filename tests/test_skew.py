"""Skew utilities: salted aggregation/join must produce exactly the
direct plan's results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_tlc_analytics_pipeline_spark.operators.skew import (
    salted_agg,
    salted_join,
)


@pytest.fixture(scope="module")
def skewed_df(spark):
    # 90% of rows share key 'hot'
    hot = spark.range(0, 9000).select(
        F.lit("hot").alias("k"), (F.col("id") % 100).cast("double").alias("v")
    )
    cold = spark.range(0, 1000).select(
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    return hot.unionByName(cold)


def test_salted_agg_matches_direct(spark, skewed_df):
    direct = {
        r.k: (r.s, r.n, r.mn, r.mx, r.avg_v)
        for r in skewed_df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("*").alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.avg("v").alias("avg_v"),
        )
        .collect()
    }
    salted = {
        r.k: (r.s, r.n, r.mn, r.mx, r.avg_v)
        for r in salted_agg(
            skewed_df,
            ["k"],
            {"s": "sum:v", "n": "count:*", "mn": "min:v", "mx": "max:v", "avg_v": "avg:v"},
            n_salts=8,
        ).collect()
    }
    assert set(direct) == set(salted)
    for k in direct:
        d, s = direct[k], salted[k]
        assert d[:4] == s[:4]
        assert d[4] == pytest.approx(s[4])


def test_salted_join_matches_direct(spark, skewed_df):
    dim = spark.createDataFrame(
        [("hot", "HOT"), ("c1", "C1"), ("c2", "C2")], "k string, label string"
    )
    direct = sorted(
        (r.k, r.v, r.label) for r in skewed_df.join(dim, "k").collect()
    )
    salted = sorted(
        (r.k, r.v, r.label) for r in salted_join(skewed_df, dim, "k", n_salts=8).collect()
    )
    assert direct == salted


def test_skew_report_flags_planted_hot_key(spark):
    from nyc_tlc_analytics_pipeline_spark.operators.skew import skew_report

    rows = [(k, "x") for k in range(100)] + [(7, "hot")] * 900
    df = spark.createDataFrame(rows, "k long, v string")
    r = skew_report(df, "k", "t.k").collect()[0]
    assert r.key_col == "t.k"
    assert r.n_keys == 100
    assert r.total_rows == 1000
    assert r.max_count == 901
    assert r.top_key == "7"
    assert r.skew_factor == round(901 / 10.0, 4)
    assert r.p50 == 1.0  # 99 singleton keys
