"""Skew mitigation: salted aggregation, salted join and the skew report.

AQE's skew-join splitting handles most runtime skew automatically
(enabled in `core.session`), but two patterns still need explicit
treatment at 100 TB:

- **Salted two-phase aggregation** — a groupBy where one key holds a
  large fraction of all rows (a viral document source, the 'Unknown'
  taxi zone, a bot user_id).  Phase 1 aggregates on (key, salt) so the
  hot key's rows spread over N reducers; phase 2 merges the partials.
  Works for any algebraic aggregate (sum/count/min/max; avg = sum+count).

- **Salted broadcast-free join** — when the build side is too big to
  broadcast AND the probe side is skewed: replicate each build row N
  ways with an explicit salt and join on (key, salt).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "__salt") -> DataFrame:
    """Uniform salt derived by hashing monotonically_increasing_id (which
    embeds partition id + in-partition offset) — deterministic layout per
    run, no RNG.  pmod, not abs(...)%: abs(Long.MIN_VALUE) overflows
    negative and a negative salt would silently match nothing."""
    return df.withColumn(
        salt_col,
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)).cast("int"),
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column → one of sum|count|min|max|avg over an
    input column, e.g. ``{"revenue": "sum:amount", "n": "count:*",
    "avg_amt": "avg:amount"}``.  Produces exactly the same result as the
    direct groupBy (tested) while bounding any single reducer's input to
    ~|hot key| / n_salts rows.
    """
    phase1_exprs: list[Column] = []
    phase2_exprs: list[Column] = []
    post_exprs: dict[str, Column] = {}
    for out, spec in aggs.items():
        op, _, src = spec.partition(":")
        if op == "sum":
            phase1_exprs.append(F.sum(src).alias(f"__p_{out}"))
            phase2_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif op == "count":
            c = F.count("*") if src == "*" else F.count(src)
            phase1_exprs.append(c.alias(f"__p_{out}"))
            phase2_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif op == "min":
            phase1_exprs.append(F.min(src).alias(f"__p_{out}"))
            phase2_exprs.append(F.min(f"__p_{out}").alias(out))
        elif op == "max":
            phase1_exprs.append(F.max(src).alias(f"__p_{out}"))
            phase2_exprs.append(F.max(f"__p_{out}").alias(out))
        elif op == "avg":
            phase1_exprs.append(F.sum(src).alias(f"__ps_{out}"))
            phase1_exprs.append(F.count(src).alias(f"__pc_{out}"))
            phase2_exprs.append(F.sum(f"__ps_{out}").alias(f"__s_{out}"))
            phase2_exprs.append(F.sum(f"__pc_{out}").alias(f"__c_{out}"))
            post_exprs[out] = col(f"__s_{out}") / col(f"__c_{out}")
        else:
            raise ValueError(f"unsupported salted agg op: {op}")
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, "__salt").agg(*phase1_exprs)
    merged = partial.groupBy(*keys).agg(*phase2_exprs)
    for out, expr in post_exprs.items():
        merged = merged.withColumn(out, expr)
    return merged.select(*keys, *aggs.keys())


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed probe side with a replicated build side on
    (key, salt): every build row is exploded n_salts ways so the hot
    key's probe rows spread across n_salts reducers.  Build side grows
    n_salts× — use only when it's too big to broadcast outright but small
    enough to replicate.

    Only probe-preserving join types are sound: replicating the build
    side means right/full outer joins would emit one phantom row per
    unmatched salt copy."""
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti, not {how!r} "
            "(build-side replication breaks right/full outer semantics)"
        )
    probe = with_salt(skewed, n_salts, "__salt")
    build = small.withColumn("__salt", F.explode(F.sequence(lit(0), lit(n_salts - 1))))
    out = probe.join(build, [key, "__salt"], how)
    return out.drop("__salt")


def skew_report(df: DataFrame, key: str, label: str) -> DataFrame:
    """One-row shuffle-key skew diagnostic: the pre-flight check that
    decides whether a join/agg on ``key`` needs salting (``salted_agg``/
    ``salted_join``) or can rely on AQE's skew split.

    Cost shape: one shuffle on ``key`` (identical to the agg being
    diagnosed), then a single-buffer exact percentile over the
    |keys|-row count frame (the q04/A6 posture) and a TakeOrdered(1)
    for the heaviest key — nothing driver-side, no global sort."""
    from ..functions.scalar import rnd

    counts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    stats = counts.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        rnd(F.avg("cnt"), 4).alias("avg_per_key"),
        rnd(F.percentile("cnt", lit(0.5)), 4).alias("p50"),
        rnd(F.percentile("cnt", lit(0.99)), 4).alias("p99"),
        F.max("cnt").cast("long").alias("max_count"),
        rnd(F.max("cnt") / F.avg("cnt"), 4).alias("skew_factor"),
    )
    top = (
        counts.orderBy(F.desc("cnt"), col(key))
        .limit(1)
        .select(col(key).cast("string").alias("top_key"))
    )
    return stats.crossJoin(top).select(
        lit(label).alias("key_col"),
        "n_keys",
        "total_rows",
        "avg_per_key",
        "p50",
        "p99",
        "max_count",
        "skew_factor",
        "top_key",
    )
