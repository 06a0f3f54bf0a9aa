"""Conformance query catalog.

Every operator family from SURVEY §2 (and the data-pipeline extensions) is
exercised by at least one named query over the driver testdata tables
(``region nation customer supplier part orders lineitem events documents
embeddings``).  Each entry pairs a Spark-first DataFrame builder with the
equivalent DuckDB oracle SQL; the driver hash-compares the two at sf0.01.

Conventions (required for the oracle value-hash to match):

- every computed/aggregate column is aliased identically in both forms;
- double aggregates are rounded (``round(x, n)``) in BOTH forms so
  distributed summation order cannot flip the hash;
- no raw nanosecond timestamps are returned (events.ts is TIMESTAMP(NANOS)
  in parquet — Spark truncates to micros); queries return truncated
  buckets, dates, or extracted integers instead;
- every ORDER BY ends in a unique key so LIMIT is deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, expr, lit, when

from ..functions.scalar import rnd, to_epoch, to_epoch_seconds
from ..sources.testdata import load_table, register_views


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str
    description: str
    operators: tuple[str, ...] = field(default_factory=tuple)
    headline: bool = False  # included in bench.py's timed set


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str,
    description: str,
    operators: tuple[str, ...] = (),
    headline: bool = False,
) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(
            name=name,
            build=fn,
            oracle=oracle,
            description=description,
            operators=operators,
            headline=headline,
        )
        return fn

    return deco


def pct(c, q, approx: bool = False):
    """Percentile aggregate with the A6 100 TB escape hatch: exact
    interpolated ``F.percentile`` (per-group buffer, oracle-equal to
    DuckDB's quantile_cont) by default; ``approx=True`` swaps in
    ``F.percentile_approx`` (Greenwald-Khanna sketch, bounded memory
    regardless of group size, mergeable map-side).  Approx breaks exact
    oracle equality, so the conformance registrations always run exact
    — the catalog builders that buffer percentiles (q04/q86/q101) take
    an ``approx`` kwarg wired here, and tests/test_round6_ops.py bounds
    the approx path's relative error."""
    if approx:
        return F.percentile_approx(c, q)
    return F.percentile(c, q)


# ---------------------------------------------------------------------------
# q01 — flagship: fact ⋈ broadcast dims, conditional agg, top-k
# Reference shape: sql/analytics/01_top_zones_by_revenue.sql (J1,A1,A3,A4,O1)
# ---------------------------------------------------------------------------

_Q01_ORACLE = """
SELECT n_name,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue,
       round(avg(l_extendedprice) + 1e-9, 4) AS avg_price,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE l_quantity > 0
GROUP BY n_name
ORDER BY revenue DESC, n_name
LIMIT 10
"""


@register(
    "q01_top_nations_by_revenue",
    _Q01_ORACLE,
    "Top supplier nations by discounted revenue (broadcast dim joins, "
    "conditional agg, top-k). Reference: 01_top_zones_by_revenue.sql.",
    operators=("S1", "J1", "A1", "A3", "A4", "O1", "P7"),
    headline=True,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        li.filter(col("l_quantity") > 0)
        .join(broadcast(sup), col("l_suppkey") == col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") == col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_items"),
            rnd(F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 2).alias("revenue"),
            rnd(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.sum(when(col("l_returnflag") == "R", 1).otherwise(0)).alias("returned_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q02 — hourly demand pattern over the events table
# Reference shape: sql/analytics/02_hourly_demand_patterns.sql (A1,A2,A3)
# ---------------------------------------------------------------------------

_Q02_ORACLE = """
SELECT extract(hour FROM ts) AS hour_of_day,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(avg(value) + 1e-9, 4) AS avg_value,
       round(sum(value) + 1e-9, 2) AS total_value
FROM events
GROUP BY hour_of_day
ORDER BY hour_of_day
"""


@register(
    "q02_hourly_event_patterns",
    _Q02_ORACLE,
    "Event volume/value by hour of day (time extraction, countDistinct). "
    "Reference: 02_hourly_demand_patterns.sql.",
    operators=("A1", "A2", "A3", "O3"),
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            rnd(F.avg("value"), 4).alias("avg_value"),
            rnd(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("hour_of_day")
    )


# ---------------------------------------------------------------------------
# q03 — monthly market-share trends (pivot-style conditional aggregation)
# Reference shape: sql/analytics/03_market_share_trends.sql (A4,A10)
# ---------------------------------------------------------------------------

_Q03_ORACLE = """
SELECT extract(year FROM o_orderdate) AS order_year,
       extract(month FROM o_orderdate) AS order_month,
       count(*) AS n_orders,
       round(100.0 * sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) / count(*) + 1e-9, 2) AS urgent_share_pct,
       round(100.0 * sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) / count(*) + 1e-9, 2) AS low_share_pct,
       round(sum(o_totalprice) + 1e-9, 2) AS total_value,
       round(avg(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END) + 1e-9, 4) AS avg_urgent_value
FROM orders
GROUP BY order_year, order_month
ORDER BY order_year, order_month
"""


@register(
    "q03_market_share_trends",
    _Q03_ORACLE,
    "Monthly priority mix of orders: conditional-agg shares and masked AVG. "
    "Reference: 03_market_share_trends.sql.",
    operators=("A4", "A10", "O3"),
    headline=True,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    n = F.count("*")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            n.alias("n_orders"),
            rnd(
                100.0 * F.sum(when(col("o_orderpriority") == "1-URGENT", 1).otherwise(0)) / n, 2
            ).alias("urgent_share_pct"),
            rnd(
                100.0 * F.sum(when(col("o_orderpriority") == "5-LOW", 1).otherwise(0)) / n, 2
            ).alias("low_share_pct"),
            rnd(F.sum("o_totalprice"), 2).alias("total_value"),
            rnd(F.avg(when(col("o_orderpriority") == "1-URGENT", col("o_totalprice"))), 4).alias(
                "avg_urgent_value"
            ),
        )
        .orderBy("order_year", "order_month")
    )


# ---------------------------------------------------------------------------
# q04 — exact interpolated percentiles + stddev per group
# Reference shape: sql/analytics/04_hvfhv_platform_economics.sql (A5,A6)
# ---------------------------------------------------------------------------

_Q04_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       count(*) AS n_items,
       round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice) + 1e-9, 4) AS price_p25,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice) + 1e-9, 4) AS price_p50,
       round(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice) + 1e-9, 4) AS price_p75,
       round(stddev_samp(l_extendedprice) + 1e-9, 4) AS price_stddev,
       round(avg(l_discount) + 1e-9, 6) AS avg_discount
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "q04_price_percentiles",
    _Q04_ORACLE,
    "Exact interpolated quartiles + sample stddev of price per "
    "returnflag/linestatus. Reference: 04_hvfhv_platform_economics.sql.",
    operators=("A5", "A6", "A8"),
    headline=True,
)
def q04(spark: SparkSession, sf_dir: str, approx: bool = False) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # one percentile buffer for all three quantiles (array form), not three;
    # approx=True flips it to the bounded-memory sketch (100 TB hatch)
    pcts = pct("l_extendedprice", F.array(lit(0.25), lit(0.5), lit(0.75)), approx)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            pcts.alias("pcts"),
            rnd(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            rnd(F.avg("l_discount"), 6).alias("avg_discount"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_items",
            rnd(col("pcts")[0], 4).alias("price_p25"),
            rnd(col("pcts")[1], 4).alias("price_p50"),
            rnd(col("pcts")[2], 4).alias("price_p75"),
            "price_stddev",
            "avg_discount",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q05 — dim join + range/LIKE predicates + HAVING
# Reference shape: sql/analytics/05_pricing_comparison.sql (P3,P6,A7)
# ---------------------------------------------------------------------------

_Q05_ORACLE = """
SELECT p_brand,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue,
       round(avg(l_extendedprice / nullif(l_quantity, 0)) + 1e-9, 4) AS avg_unit_price
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size BETWEEN 10 AND 40
  AND p_type LIKE '%A%'
GROUP BY p_brand
HAVING count(*) >= 20
ORDER BY revenue DESC, p_brand
"""


@register(
    "q05_brand_pricing",
    _Q05_ORACLE,
    "Per-brand pricing over parts in a size band with LIKE filter and "
    "HAVING. Reference: 05_pricing_comparison.sql.",
    operators=("P3", "P6", "A7", "A10", "J1"),
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(broadcast(p), col("l_partkey") == col("p_partkey"))
        .filter(col("p_size").between(10, 40) & col("p_type").like("%A%"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            rnd(F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 2).alias("revenue"),
            rnd(F.avg(col("l_extendedprice") / F.nullif(col("l_quantity"), lit(0))), 4).alias(
                "avg_unit_price"
            ),
        )
        .filter(col("n_items") >= 20)
        .orderBy(F.desc("revenue"), "p_brand")
    )


# ---------------------------------------------------------------------------
# q06 — one dim in two roles (customer nation AND supplier nation)
# Reference shape: sql/analytics/06_airport_trips_analysis.sql (J5)
# ---------------------------------------------------------------------------

_Q06_ORACLE = """
SELECT cn.n_name AS cust_nation,
       sn.n_name AS supp_nation,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue,
       CASE WHEN cn.n_regionkey = sn.n_regionkey THEN 'intra-region' ELSE 'inter-region' END AS flow_type
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
GROUP BY cust_nation, supp_nation, flow_type
HAVING count(*) >= 5
ORDER BY revenue DESC, cust_nation, supp_nation
LIMIT 50
"""


@register(
    "q06_nation_pair_flows",
    _Q06_ORACLE,
    "Trade flows between customer nation and supplier nation — the same "
    "dim joined in two roles. Reference: 06_airport_trips_analysis.sql.",
    operators=("J5", "A8", "A7", "O1"),
    headline=True,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cn = nat.select(
        col("n_nationkey").alias("cn_key"),
        col("n_name").alias("cust_nation"),
        col("n_regionkey").alias("cn_region"),
    )
    sn = nat.select(
        col("n_nationkey").alias("sn_key"),
        col("n_name").alias("supp_nation"),
        col("n_regionkey").alias("sn_region"),
    )
    return (
        li.join(o, col("l_orderkey") == col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") == col("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") == col("cn_key"))
        .join(broadcast(s), col("l_suppkey") == col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") == col("sn_key"))
        .withColumn(
            "flow_type",
            when(col("cn_region") == col("sn_region"), "intra-region").otherwise("inter-region"),
        )
        .groupBy("cust_nation", "supp_nation", "flow_type")
        .agg(
            F.count("*").alias("n_items"),
            rnd(F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 2).alias("revenue"),
        )
        .filter(col("n_items") >= 5)
        .select("cust_nation", "supp_nation", "n_items", "revenue", "flow_type")
        .orderBy(F.desc("revenue"), "cust_nation", "supp_nation")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q07 — weekend vs weekday (CASE group key + DOW convention)
# Reference shape: sql/analytics/07_weekend_vs_weekday.sql
# ---------------------------------------------------------------------------

_Q07_ORACLE = """
SELECT CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 'Weekend' ELSE 'Weekday' END AS day_type,
       o_orderpriority,
       count(*) AS n_orders,
       round(avg(o_totalprice) + 1e-9, 4) AS avg_value,
       round(sum(o_totalprice) + 1e-9, 2) AS total_value
FROM orders
GROUP BY day_type, o_orderpriority
ORDER BY day_type, o_orderpriority
"""


@register(
    "q07_weekend_vs_weekday",
    _Q07_ORACLE,
    "Order economics split weekend/weekday — DOW convention Sun=0 like the "
    "reference engine. Reference: 07_weekend_vs_weekday.sql.",
    operators=("A8", "A3", "scalar-date"),
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import day_of_week

    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "day_type",
            when(day_of_week("o_orderdate").isin(0, 6), "Weekend").otherwise("Weekday"),
        )
        .groupBy("day_type", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            rnd(F.avg("o_totalprice"), 4).alias("avg_value"),
            rnd(F.sum("o_totalprice"), 2).alias("total_value"),
        )
        .orderBy("day_type", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q08 — percentage-of-total via unpartitioned window (W1)
# Reference shape: sql/analytics/08_shared_rides_analysis.sql:11
# ---------------------------------------------------------------------------

_Q08_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       round(100.0 * count(*) / sum(count(*)) OVER () + 1e-9, 4) AS pct_of_total,
       round(sum(value) + 1e-9, 2) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q08_event_type_share",
    _Q08_ORACLE,
    "Share of each event type of the grand total — SUM(COUNT(*)) OVER (). "
    "Reference: 08_shared_rides_analysis.sql.",
    operators=("W1", "A1"),
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"), rnd(F.sum("value"), 2).alias("total_value")
    )
    w = Window.partitionBy()
    return (
        counts.withColumn(
            "pct_of_total", rnd(100.0 * col("n_events") / F.sum("n_events").over(w), 4)
        )
        .select("event_type", "n_events", "pct_of_total", "total_value")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q09 — left-semi join via IN-subquery (P5/J8)
# Reference shape: sql/analytics/12_cbd_congestion_fee_impact.sql:44
# ---------------------------------------------------------------------------

_Q09_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice) + 1e-9, 2) AS total_price
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 3000.0)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "q09_semi_join_suppliers",
    _Q09_ORACLE,
    "Lineitems from well-capitalized suppliers — IN-subquery as left-semi "
    "join. Reference: 12_cbd_congestion_fee_impact.sql:44.",
    operators=("P5", "J8"),
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").filter(col("s_acctbal") > 3000.0)
    return (
        li.join(broadcast(s), col("l_suppkey") == col("s_suppkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            rnd(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q10 — anti join (idempotent-load guard shape, S7)
# Reference shape: src/database/schema_drift.py:213-215 (NOT IN source_file)
# ---------------------------------------------------------------------------

_Q10_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       round(sum(o_totalprice) + 1e-9, 2) AS total_value
FROM orders
WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register(
    "q10_orders_without_items",
    _Q10_ORACLE,
    "Orders with no lineitems — left-anti join, the idempotent-load guard "
    "shape. Reference: schema_drift.py:213-215.",
    operators=("S7", "J8"),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, col("o_orderkey") == col("l_orderkey"), "left_anti")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("total_value"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q11 — per-hour conditional metrics with two-condition HAVING, ORDER BY expr
# Reference shape: sql/analytics/11_uber_lyft_vs_taxi_pricing_by_zone_hour.sql
# ---------------------------------------------------------------------------

_Q11_ORACLE = """
SELECT extract(hour FROM ts) AS hour_of_day,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
       round(avg(CASE WHEN event_type = 'purchase' THEN value END) + 1e-9, 4) AS avg_purchase_value,
       round(avg(CASE WHEN event_type = 'click' THEN value END) + 1e-9, 4) AS avg_click_value
FROM events
GROUP BY hour_of_day
HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) >= 3
   AND count(CASE WHEN event_type = 'click' THEN 1 END) >= 3
ORDER BY (n_purchases + n_clicks) DESC, hour_of_day
"""


@register(
    "q11_type_metrics_by_hour",
    _Q11_ORACLE,
    "Purchase-vs-click economics per hour: COUNT(CASE) masked metrics, "
    "two-condition HAVING, ORDER BY expression. "
    "Reference: 11_uber_lyft_vs_taxi_pricing_by_zone_hour.sql.",
    operators=("A4", "A7", "O2"),
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(
            F.count(when(col("event_type") == "purchase", 1)).alias("n_purchases"),
            F.count(when(col("event_type") == "click", 1)).alias("n_clicks"),
            rnd(F.avg(when(col("event_type") == "purchase", col("value"))), 4).alias(
                "avg_purchase_value"
            ),
            rnd(F.avg(when(col("event_type") == "click", col("value"))), 4).alias(
                "avg_click_value"
            ),
        )
        .filter((col("n_purchases") >= 3) & (col("n_clicks") >= 3))
        .orderBy(F.desc(col("n_purchases") + col("n_clicks")), "hour_of_day")
    )


# ---------------------------------------------------------------------------
# q12 — before/after epoch comparison via self-join of a grouped CTE (J6)
# Reference shape: sql/analytics/12_cbd_congestion_fee_impact.sql:94-99
# ---------------------------------------------------------------------------

_Q12_SPLIT = "1998-01-01"

_Q12_ORACLE = f"""
WITH period_pricing AS (
    SELECT o_orderpriority,
           CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_Q12_SPLIT}' THEN 'before' ELSE 'after' END AS period,
           count(*) AS n_orders,
           avg(o_totalprice) AS avg_value
    FROM orders
    GROUP BY o_orderpriority, period
)
SELECT b.o_orderpriority,
       b.n_orders AS n_before,
       a.n_orders AS n_after,
       round(b.avg_value + 1e-9, 4) AS avg_before,
       round(a.avg_value + 1e-9, 4) AS avg_after,
       round(100.0 * (a.avg_value - b.avg_value) / nullif(b.avg_value, 0) + 1e-9, 4) AS pct_change
FROM period_pricing b
LEFT JOIN period_pricing a
       ON b.o_orderpriority = a.o_orderpriority AND a.period = 'after'
WHERE b.period = 'before'
ORDER BY b.o_orderpriority
"""


@register(
    "q12_before_after_pricing",
    _Q12_ORACLE,
    "Average order value before/after a fixed epoch split — grouped-CTE "
    "self-left-join pivot. Reference: 12_cbd_congestion_fee_impact.sql.",
    operators=("J6", "A4", "A10", "P3"),
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    period = when(col("o_orderdate").cast("date") < lit(_Q12_SPLIT).cast("date"), "before").otherwise(
        "after"
    )
    pricing = (
        o.withColumn("period", period)
        .groupBy("o_orderpriority", "period")
        .agg(F.count("*").alias("n_orders"), F.avg("o_totalprice").alias("avg_value"))
    )
    b = pricing.filter(col("period") == "before").select(
        "o_orderpriority",
        col("n_orders").alias("n_before"),
        col("avg_value").alias("avg_b"),
    )
    a = pricing.filter(col("period") == "after").select(
        col("o_orderpriority").alias("prio_a"),
        col("n_orders").alias("n_after"),
        col("avg_value").alias("avg_a"),
    )
    return (
        b.join(a, b.o_orderpriority == a.prio_a, "left")
        .select(
            "o_orderpriority",
            "n_before",
            "n_after",
            rnd(col("avg_b"), 4).alias("avg_before"),
            rnd(col("avg_a"), 4).alias("avg_after"),
            rnd(
                100.0 * (col("avg_a") - col("avg_b")) / F.nullif(col("avg_b"), lit(0)), 4
            ).alias("pct_change"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q13 — multi-CTE dispersion profile: agg ⋈ agg on a composite key (J7)
# Reference shape: sql/analytics/13_*.sql + 14:56-58
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
WITH nation_orders AS (
    SELECT n_name,
           extract(year FROM o_orderdate) AS order_year,
           count(*) AS n_orders,
           sum(o_totalprice) AS total_value,
           avg(o_totalprice) AS avg_value,
           stddev_samp(o_totalprice) AS value_stddev,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS median_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, order_year
),
year_totals AS (
    SELECT order_year, sum(n_orders) AS year_orders, sum(total_value) AS year_value
    FROM nation_orders
    GROUP BY order_year
)
SELECT m.n_name,
       m.order_year,
       m.n_orders,
       round(m.avg_value + 1e-9, 4) AS avg_value,
       round(m.value_stddev + 1e-9, 4) AS value_stddev,
       round(m.median_value + 1e-9, 4) AS median_value,
       round(100.0 * m.n_orders / t.year_orders + 1e-9, 4) AS order_share_pct,
       round(100.0 * m.total_value / t.year_value + 1e-9, 4) AS value_share_pct
FROM nation_orders m
JOIN year_totals t ON m.order_year = t.order_year
WHERE m.n_orders >= 3
ORDER BY m.order_year, m.n_name
"""


@register(
    "q13_nation_year_dispersion",
    _Q13_ORACLE,
    "Per-nation-per-year order dispersion vs year totals.  Year shares "
    "come from window sums OVER the nation-year aggregate (one fact "
    "scan) instead of the reference's agg-self-join CTE, which would "
    "scan and re-aggregate the facts twice — the agg⋈agg join operator "
    "itself stays exercised by q14's daily⋈day_totals form. "
    "Reference: 13/14 analytics CTEs.",
    operators=("W1", "A5", "A6", "A8", "A10"),
    headline=True,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    nation_orders = (
        o.join(broadcast(c), col("o_custkey") == col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") == col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("total_value"),
            F.avg("o_totalprice").alias("avg_value"),
            F.stddev_samp("o_totalprice").alias("value_stddev"),
            F.percentile("o_totalprice", lit(0.5)).alias("median_value"),
        )
    )
    # year totals as window sums over the aggregated rows (one per
    # nation-year) — the agg-then-self-join form scans and re-aggregates
    # the fact table twice (Catalyst does not dedupe common subplans);
    # the window shuffles only the tiny aggregate instead
    wy = Window.partitionBy("order_year")
    return (
        nation_orders.withColumn("year_orders", F.sum("n_orders").over(wy))
        .withColumn("year_value", F.sum("total_value").over(wy))
        .filter(col("n_orders") >= 3)
        .select(
            "n_name",
            "order_year",
            "n_orders",
            rnd(col("avg_value"), 4).alias("avg_value"),
            rnd(col("value_stddev"), 4).alias("value_stddev"),
            rnd(col("median_value"), 4).alias("median_value"),
            rnd(100.0 * col("n_orders") / col("year_orders"), 4).alias("order_share_pct"),
            rnd(100.0 * col("total_value") / col("year_value"), 4).alias("value_share_pct"),
        )
        .orderBy("order_year", "n_name")
    )


# ---------------------------------------------------------------------------
# q14 — daily share vs global average share (windowed single-scan plan;
# the CTE SQL below is the oracle, whose scalar subquery Spark re-expands)
# Reference shape: sql/analytics/14_market_share_shift_vs_pricing.sql:70-79
# ---------------------------------------------------------------------------

_Q14_SQL = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS order_date,
           n_name,
           count(*) AS n_orders,
           sum(o_totalprice) AS day_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY order_date, n_name
),
day_totals AS (
    SELECT order_date, sum(n_orders) AS day_orders
    FROM daily
    GROUP BY order_date
),
share AS (
    SELECT d.order_date,
           d.n_name,
           d.n_orders,
           100.0 * d.n_orders / t.day_orders AS share_pct
    FROM daily d
    JOIN day_totals t ON d.order_date = t.order_date
)
SELECT n_name,
       count(*) AS n_days,
       round(avg(share_pct) + 1e-9, 4) AS avg_share_pct,
       CAST(sum(CASE WHEN share_pct > (SELECT avg(share_pct) FROM share) THEN 1 ELSE 0 END) AS BIGINT) AS days_above_global_avg
FROM share
GROUP BY n_name
HAVING count(*) >= 5
ORDER BY avg_share_pct DESC, n_name
"""


@register(
    "q14_nation_share_vs_global",
    _Q14_SQL,
    "Daily nation share of orders vs the global average share — "
    "uncorrelated scalar agg subquery inside an outer aggregate. "
    "The Spark plan derives day totals AND the global average as windows "
    "over the single daily aggregate (the SQL-CTE form re-expands `daily` "
    "under every reference — 6 scans of orders, no exchange reuse); one "
    "fact scan total. A9's scalar-subquery plan shape itself stays "
    "exercised by a14's percentile subqueries. Reference: "
    "14_market_share_shift_vs_pricing.sql.",
    operators=("A9", "A7", "W1"),
    headline=True,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    daily = (
        o.join(broadcast(c), col("o_custkey") == col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") == col("n_nationkey"))
        .groupBy(
            col("o_orderdate").cast("date").alias("order_date"),
            col("n_name"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    # share-of-day via a window over the (date × nation)-sized aggregate;
    # the global average via an unpartitioned window over the same rows —
    # bounded by |dates| × |nations|, never fact-sized, so the single
    # partition it implies is safe at any input scale
    share = daily.withColumn(
        "share_pct",
        100.0 * col("n_orders") / F.sum("n_orders").over(Window.partitionBy("order_date")),
    ).withColumn("global_avg", F.avg("share_pct").over(Window.partitionBy()))
    return (
        share.groupBy("n_name")
        .agg(
            F.count("*").alias("n_days"),
            rnd(F.avg("share_pct"), 4).alias("avg_share_pct"),
            F.sum(
                F.when(col("share_pct") > col("global_avg"), 1).otherwise(0)
            ).cast("long").alias("days_above_global_avg"),
        )
        .filter(col("n_days") >= 5)
        .orderBy(col("avg_share_pct").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# q15 — COUNT(DISTINCT) + HAVING on it (A2)
# Reference shape: sql/analytics/14:84-89
# ---------------------------------------------------------------------------

_Q15_ORACLE = """
SELECT extract(year FROM o_orderdate) AS order_year,
       extract(month FROM o_orderdate) AS order_month,
       count(DISTINCT o_custkey) AS active_customers,
       count(*) AS n_orders,
       round(sum(o_totalprice) / count(DISTINCT o_custkey) + 1e-9, 4) AS value_per_customer
FROM orders
GROUP BY order_year, order_month
HAVING count(DISTINCT o_custkey) >= 10
ORDER BY order_year, order_month
"""


@register(
    "q15_active_customers_monthly",
    _Q15_ORACLE,
    "Monthly distinct active customers with HAVING COUNT(DISTINCT). "
    "Reference: 14_market_share_shift_vs_pricing.sql:84-89.",
    operators=("A2", "A7", "A10"),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("active_customers"),
            F.count("*").alias("n_orders"),
            rnd(F.sum("o_totalprice") / F.countDistinct("o_custkey"), 4).alias(
                "value_per_customer"
            ),
        )
        .filter(col("active_customers") >= 10)
        .orderBy("order_year", "order_month")
    )


# ---------------------------------------------------------------------------
# q16 — UNION ALL of two differently-shaped sources into one fact (J9)
# Reference shape: src/transformations/standardize.py:244-261
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
WITH unified AS (
    SELECT 'lineitem' AS record_type,
           extract(year FROM l_shipdate) AS record_year,
           l_extendedprice * (1 - l_discount) AS amount
    FROM lineitem
    UNION ALL
    SELECT 'order' AS record_type,
           extract(year FROM o_orderdate) AS record_year,
           o_totalprice AS amount
    FROM orders
)
SELECT record_type,
       record_year,
       count(*) AS n_records,
       round(sum(amount) + 1e-9, 2) AS total_amount,
       round(avg(amount) + 1e-9, 4) AS avg_amount
FROM unified
GROUP BY record_type, record_year
ORDER BY record_type, record_year
"""


@register(
    "q16_unified_fact_union",
    _Q16_ORACLE,
    "Two differently-shaped sources unified by unionByName then aggregated "
    "— the multi-service fact build. Reference: standardize.py:244-261.",
    operators=("J9", "A3", "A8"),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        lit("lineitem").alias("record_type"),
        F.year("l_shipdate").alias("record_year"),
        (col("l_extendedprice") * (1 - col("l_discount"))).alias("amount"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        lit("order").alias("record_type"),
        F.year("o_orderdate").alias("record_year"),
        col("o_totalprice").alias("amount"),
    )
    return (
        li.unionByName(o)
        .groupBy("record_type", "record_year")
        .agg(
            F.count("*").alias("n_records"),
            rnd(F.sum("amount"), 2).alias("total_amount"),
            rnd(F.avg("amount"), 4).alias("avg_amount"),
        )
        .orderBy("record_type", "record_year")
    )


# ---------------------------------------------------------------------------
# q17 — date-spine generator + zero-fill left join (S14)
# Reference shape: sql/ddl/02_dimension_tables.sql:84-88 (generate_series)
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
WITH spine AS (
    SELECT CAST(d AS DATE) AS spine_date
    FROM generate_series(DATE '1995-01-01', DATE '1996-12-31', INTERVAL '1' DAY) t(d)
),
daily AS (
    SELECT CAST(o_orderdate AS DATE) AS order_date, count(*) AS n_orders
    FROM orders
    GROUP BY order_date
)
SELECT extract(year FROM spine_date) AS spine_year,
       extract(month FROM spine_date) AS spine_month,
       count(*) AS n_days,
       CAST(sum(CASE WHEN daily.n_orders IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS days_with_orders,
       CAST(sum(coalesce(daily.n_orders, 0)) AS BIGINT) AS n_orders
FROM spine
LEFT JOIN daily ON spine.spine_date = daily.order_date
GROUP BY spine_year, spine_month
ORDER BY spine_year, spine_month
"""


@register(
    "q17_date_spine_coverage",
    _Q17_ORACLE,
    "Generated date spine left-joined to daily order counts (zero-fill) — "
    "the dim_date generator. Reference: 02_dimension_tables.sql:84-88.",
    operators=("S14", "J3", "A4"),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spine = spark.sql(
        "SELECT explode(sequence(to_date('1995-01-01'), to_date('1996-12-31'), "
        "interval 1 day)) AS spine_date"
    )
    daily = o.groupBy(col("o_orderdate").cast("date").alias("order_date")).agg(
        F.count("*").alias("daily_orders")
    )
    return (
        spine.join(daily, spine.spine_date == daily.order_date, "left")
        .groupBy(
            F.year("spine_date").alias("spine_year"),
            F.month("spine_date").alias("spine_month"),
        )
        .agg(
            F.count("*").alias("n_days"),
            F.sum(when(col("daily_orders").isNotNull(), 1).otherwise(0)).alias("days_with_orders"),
            F.sum(F.coalesce(col("daily_orders"), lit(0))).alias("n_orders"),
        )
        .orderBy("spine_year", "spine_month")
    )


# ---------------------------------------------------------------------------
# q18 — per-partition window average vs row (W2)
# Reference shape: sql/analytics/14:105-116
# ---------------------------------------------------------------------------

_Q18_ORACLE = """
WITH w AS (
    SELECT user_id,
           value,
           avg(value) OVER (PARTITION BY user_id) AS user_avg
    FROM events
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN value > user_avg THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg,
       round(max(user_avg) + 1e-9, 4) AS user_avg_value
FROM w
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "q18_user_value_vs_avg",
    _Q18_ORACLE,
    "Each event compared to its user's window average — "
    "AVG() OVER (PARTITION BY). Reference: 14:105-116.",
    operators=("W2",),
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    return (
        ev.withColumn("user_avg", F.avg("value").over(w))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(when(col("value") > col("user_avg"), 1).otherwise(0)).alias("n_above_avg"),
            rnd(F.max("user_avg"), 4).alias("user_avg_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q19 — gap-based sessionization (lag + running sum) — beyond-reference
# ---------------------------------------------------------------------------

_SESSION_GAP_SECONDS = 1800

_Q19_ORACLE = f"""
WITH ordered AS (
    SELECT user_id, event_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
    WHERE ts IS NOT NULL
),
marked AS (
    SELECT user_id, event_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR date_diff('second', prev_ts, ts) > {_SESSION_GAP_SECONDS}
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
),
sessions AS (
    SELECT user_id, event_id,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM marked
)
SELECT user_id,
       count(DISTINCT session_seq) AS n_sessions,
       count(*) AS n_events,
       round(1.0 * count(*) / count(DISTINCT session_seq) + 1e-9, 4) AS events_per_session
FROM sessions
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "q19_sessionization",
    _Q19_ORACLE,
    "Gap-based sessionization (30-min inactivity) via lag + running sum — "
    "batch form of the streaming session-window operator.",
    operators=("W2", "W-lag", "streaming-session-batch"),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import sessionize

    ev = load_table(spark, sf_dir, "events")
    return (
        sessionize(ev, gap_seconds=_SESSION_GAP_SECONDS)
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_seq").alias("n_sessions"),
            F.count("*").alias("n_events"),
            rnd(F.count("*") / F.countDistinct("session_seq"), 4).alias("events_per_session"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q20 — tumbling time-window aggregation (batch form of streaming windows)
# ---------------------------------------------------------------------------

_Q20_ORACLE = """
SELECT date_trunc('day', ts)::DATE AS window_day,
       event_type,
       count(*) AS n_events,
       round(sum(value) + 1e-9, 2) AS total_value
FROM events
GROUP BY window_day, event_type
ORDER BY window_day, event_type
"""


@register(
    "q20_daily_tumbling_windows",
    _Q20_ORACLE,
    "Tumbling 1-day windows over the event stream (batch form; the "
    "streaming module runs the same plan with a watermark).",
    operators=("streaming-tumbling-batch", "A8"),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 day").getField("start").cast("date").alias("window_day"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), rnd(F.sum("value"), 2).alias("total_value"))
        .orderBy("window_day", "event_type")
    )


# ---------------------------------------------------------------------------
# q21 — semi-structured JSON extraction from the props column
# ---------------------------------------------------------------------------

_Q21_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)) + 1e-9, 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q21_json_props_metrics",
    _Q21_ORACLE,
    "JSON field extraction from the props column aggregated per type "
    "(get_json_object / json_extract_string parity).",
    operators=("scalar-json", "A4"),
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            rnd(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.sum(when(k > 50, 1).otherwise(0)).alias("n_high_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q32 — global (no GROUP BY) quality-check aggregation (A11)
# Reference shape: quality_checks.py:27-36 single-pass checks
# ---------------------------------------------------------------------------

_Q32_ORACLE = """
SELECT count(*) AS total_rows,
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_qty,
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_out_of_range,
       CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
       CAST(min(l_shipdate) AS DATE) AS earliest_ship,
       CAST(max(l_shipdate) AS DATE) AS latest_ship,
       round(avg(l_quantity) + 1e-9, 4) AS avg_qty
FROM lineitem
"""


@register(
    "q32_global_quality_checks",
    _Q32_ORACLE,
    "Single-pass global quality aggregation over the fact table — the "
    "reference's quality-check shape (A11). Reference: quality_checks.py:27-36.",
    operators=("A11", "A4"),
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("total_rows"),
        F.sum(when(col("l_quantity") <= 0, 1).otherwise(0)).alias("nonpositive_qty"),
        F.sum(when((col("l_discount") < 0) | (col("l_discount") > 0.1), 1).otherwise(0)).alias(
            "discount_out_of_range"
        ),
        F.sum(when(col("l_extendedprice") <= 0, 1).otherwise(0)).alias("nonpositive_price"),
        F.sum(when(col("l_shipdate").isNull(), 1).otherwise(0)).alias("null_shipdate"),
        F.min(col("l_shipdate").cast("date")).alias("earliest_ship"),
        F.max(col("l_shipdate").cast("date")).alias("latest_ship"),
        rnd(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


# ---------------------------------------------------------------------------
# q33 — relational pivot (groupBy().pivot()) — the dedicated pivot operator
# beyond the reference's CASE-based pivoting (A4)
# ---------------------------------------------------------------------------

_Q33_ORACLE = """
SELECT extract(year FROM o_orderdate) AS order_year,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
       CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
       CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS not_specified,
       CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
FROM orders
GROUP BY order_year
ORDER BY order_year
"""

_Q33_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_Q33_ALIASES = ["urgent", "high", "medium", "not_specified", "low"]


@register(
    "q33_priority_pivot",
    _Q33_ORACLE,
    "Yearly order counts pivoted by priority — Spark's dedicated "
    "groupBy().pivot() operator (explicit value list keeps the plan to one "
    "pass, no value-discovery job).",
    operators=("pivot", "A4"),
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    df = (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderpriority", _Q33_PRIORITIES)
        .count()
    )
    for src, dst in zip(_Q33_PRIORITIES, _Q33_ALIASES):
        df = df.withColumnRenamed(src, dst)
    # pivot yields NULL for empty cells; the CASE oracle yields 0
    fills = {a: 0 for a in _Q33_ALIASES}
    return df.fillna(fills).orderBy("order_year")


# ---------------------------------------------------------------------------
# q34 — set operations (INTERSECT / EXCEPT) — beyond the reference (§2.7
# records none used)
# ---------------------------------------------------------------------------

_Q34_ORACLE = """
WITH c95 AS (SELECT DISTINCT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1995),
     c96 AS (SELECT DISTINCT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1996)
SELECT 'both_years' AS cohort, count(*) AS n_customers FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96)
UNION ALL
SELECT 'only_1995' AS cohort, count(*) AS n_customers FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96)
UNION ALL
SELECT 'only_1996' AS cohort, count(*) AS n_customers FROM (SELECT * FROM c96 EXCEPT SELECT * FROM c95)
ORDER BY cohort
"""


@register(
    "q34_customer_cohort_setops",
    _Q34_ORACLE,
    "Customer cohorts via INTERSECT / EXCEPT — distinct-set operators "
    "(absent from the reference, §2.7; standard retention analysis).",
    operators=("set-intersect", "set-except", "A2"),
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    c96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    both = c95.intersect(c96).agg(F.count("*").alias("n_customers")).select(
        lit("both_years").alias("cohort"), "n_customers"
    )
    only95 = c95.exceptAll(c96).agg(F.count("*").alias("n_customers")).select(
        lit("only_1995").alias("cohort"), "n_customers"
    )
    only96 = c96.exceptAll(c95).agg(F.count("*").alias("n_customers")).select(
        lit("only_1996").alias("cohort"), "n_customers"
    )
    return both.unionByName(only95).unionByName(only96).orderBy("cohort")


# ---------------------------------------------------------------------------
# q35 — keep-first dedup (INSERT OR IGNORE semantics, deterministic form)
# Reference shape: standardize.py:24,90
# ---------------------------------------------------------------------------

_Q35_ORACLE = """
WITH kept AS (
    SELECT lang, source, min(doc_id) AS first_doc
    FROM documents
    GROUP BY lang, source
)
SELECT lang,
       count(*) AS n_groups,
       CAST(sum(first_doc) AS BIGINT) AS first_doc_checksum
FROM kept
GROUP BY lang
ORDER BY lang
"""


@register(
    "q35_keep_first_dedup",
    _Q35_ORACLE,
    "Deterministic keep-first dedup per (lang, source) via window-min — "
    "the engine's INSERT OR IGNORE equivalent with a defined survivor "
    "(reference keeps an arbitrary one: standardize.py:24,90).",
    operators=("S9", "W2", "dedup-exact"),
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    kept = exact_dedup(docs, ["lang", "source"], "doc_id")
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("doc_id").alias("first_doc_checksum"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q38 — as-of join (nearest prior event; union + carry-forward plan)
# ---------------------------------------------------------------------------

_Q38_ORACLE = """
WITH p AS (
    SELECT user_id, ts::TIMESTAMP AS ts, value FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT user_id, ts::TIMESTAMP AS ts, value FROM events WHERE event_type = 'click'
)
SELECT p.user_id,
       count(*) AS n_purchases,
       count(c.value) AS n_with_prior_click,
       round(sum(c.value) + 1e-9, 2) AS total_prior_click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
GROUP BY p.user_id
ORDER BY p.user_id
"""


@register(
    "q38_asof_join",
    _Q38_ORACLE,
    "As-of join: each purchase picks up the user's latest prior click "
    "(union + per-key sort + last(ignorenulls) carry-forward — one "
    "shuffle, no range explosion). Oracle: DuckDB native ASOF JOIN.",
    operators=("join-asof", "W2"),
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(col("event_type") == "purchase").select(
        "user_id", "ts", col("value").alias("purchase_value")
    )
    clicks = ev.filter(col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", value_cols=["value"]
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.count("asof_value").alias("n_with_prior_click"),
            rnd(F.sum("asof_value"), 2).alias("total_prior_click_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q166 — as-of join, forward and nearest directions (q38's missing two)
# ---------------------------------------------------------------------------

_Q166_ORACLE = """
WITH p AS (
    SELECT user_id, ts::TIMESTAMP AS ts, value,
           row_number() OVER (ORDER BY user_id, ts, value) AS rid
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT user_id, ts::TIMESTAMP AS ts, round(sum(value) + 1e-9, 2) AS value
    FROM events WHERE event_type = 'click'
    GROUP BY user_id, ts
),
fwd AS (
    SELECT rid, user_id, val FROM (
        SELECT p.rid, p.user_id, c.value AS val,
               row_number() OVER (PARTITION BY p.rid ORDER BY c.ts) AS rn
        FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts >= p.ts
    ) WHERE rn = 1
),
near AS (
    SELECT rid, val FROM (
        SELECT p.rid, c.value AS val,
               row_number() OVER (
                   PARTITION BY p.rid
                   ORDER BY abs(epoch(c.ts) - epoch(p.ts)),
                            CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END
               ) AS rn
        FROM p LEFT JOIN c ON p.user_id = c.user_id
    ) WHERE rn = 1
)
SELECT f.user_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(f.val) AS BIGINT) AS n_with_next_click,
       round(sum(f.val) + 1e-9, 2) AS total_next_click_value,
       CAST(count(n.val) AS BIGINT) AS n_with_nearest_click,
       round(sum(n.val) + 1e-9, 2) AS total_nearest_click_value
FROM fwd f JOIN near n USING (rid)
GROUP BY f.user_id
ORDER BY f.user_id
"""


@register(
    "q166_asof_directions",
    _Q166_ORACLE,
    "The two as-of directions q38 leaves out: each purchase picks up "
    "the user's NEXT click (forward — the next-observation join) and "
    "the NEAREST click in time (exact-distance ties prefer the prior "
    "row, the pandas merge_asof convention), aggregated per user in "
    "one report.  Same one-shuffle union-and-carry plan as backward "
    "(first(ignorenulls) over the following frame for forward; nearest "
    "computes both carries in ONE exchange — two sorts — and picks per "
    "row by matched-timestamp distance).  Clicks are pre-aggregated "
    "per (user, ts) so every direction's pick is total-order "
    "deterministic.  DuckDB ASOF is backward-only, so the oracle is "
    "the naive inequality join with explicit argmin windows — the "
    "cross-engine truth the composition is checked against.",
    operators=("join-asof", "join-asof-forward", "join-asof-nearest", "W2"),
)
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(col("event_type") == "purchase").select(
        "user_id", "ts", col("value").alias("purchase_value")
    )
    clicks = (
        ev.filter(col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(rnd(F.sum("value"), 2).alias("value"))
    )
    fwd = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"], direction="forward",
    )
    near = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"], direction="nearest",
    )
    agg_f = fwd.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.count("asof_value").cast("long").alias("n_with_next_click"),
        rnd(F.sum("asof_value"), 2).alias("total_next_click_value"),
    )
    agg_n = near.groupBy("user_id").agg(
        F.count("asof_value").cast("long").alias("n_with_nearest_click"),
        rnd(F.sum("asof_value"), 2).alias("total_nearest_click_value"),
    )
    return agg_f.join(agg_n, "user_id").orderBy("user_id")


# ---------------------------------------------------------------------------
# q39 — range (interval) join via bucketed equi-join
# ---------------------------------------------------------------------------

_Q39_ORACLE = """
WITH p AS (
    SELECT user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'purchase'
),
e AS (
    SELECT user_id, ts::TIMESTAMP AS ts_err, value AS err_value
    FROM events WHERE event_type = 'error'
)
SELECT p.user_id,
       count(*) AS n_pairs,
       round(avg(abs(epoch(p.ts - e.ts_err))) + 1e-9, 2) AS avg_gap_secs,
       round(sum(e.err_value) + 1e-9, 2) AS total_err_value
FROM p
JOIN e ON p.user_id = e.user_id AND abs(epoch(p.ts - e.ts_err)) <= 3600
GROUP BY p.user_id
ORDER BY p.user_id
"""


@register(
    "q39_range_join",
    _Q39_ORACLE,
    "Range join: purchase/error pairs within 1 hour per user — bucketed "
    "equi-join probing adjacent buckets instead of a per-key cross "
    "product. Oracle: DuckDB inequality join.",
    operators=("join-range",),
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import range_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(col("event_type") == "purchase").select(
        "user_id", col("ts").alias("p_ts")
    )
    errors = ev.filter(col("event_type") == "error").select(
        "user_id", col("ts").alias("e_ts"), col("value").alias("err_value")
    )
    pairs = range_join(purchases, errors, "user_id", "p_ts", "e_ts", 3600)
    gap = F.abs(to_epoch_seconds("p_ts") - to_epoch_seconds("e_ts"))
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            rnd(F.avg(gap), 2).alias("avg_gap_secs"),
            rnd(F.sum("err_value"), 2).alias("total_err_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q40 — ROLLUP hierarchy totals (beyond the reference: §2.4 notes none)
# ---------------------------------------------------------------------------

_Q40_ORACLE = """
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(l_returnflag, 'ALL') AS returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, l_returnflag)
ORDER BY nation, returnflag
"""


@register(
    "q40_rollup_revenue",
    _Q40_ORACLE,
    "Revenue with ROLLUP subtotals per nation and grand total — grouping "
    "sets (absent from the reference, SURVEY §2.4).",
    operators=("rollup", "A3", "J1"),
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        li.join(broadcast(sup), col("l_suppkey") == col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") == col("n_nationkey"))
        .rollup("n_name", "l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            rnd(F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 2).alias("revenue"),
        )
        .select(
            F.coalesce(col("n_name"), lit("ALL")).alias("nation"),
            F.coalesce(col("l_returnflag"), lit("ALL")).alias("returnflag"),
            "n_items",
            "revenue",
        )
        .orderBy("nation", "returnflag")
    )


# ---------------------------------------------------------------------------
# q45 — CUBE over two dimensions (all four grouping-set combinations)
# ---------------------------------------------------------------------------

_Q45_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_items,
       round(sum(l_quantity) + 1e-9, 2) AS total_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


@register(
    "q45_cube_qty",
    _Q45_ORACLE,
    "Quantity totals over CUBE(returnflag, linestatus) — all four "
    "grouping-set combinations in one pass.",
    operators=("cube", "A3"),
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"), rnd(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            F.coalesce(col("l_returnflag"), lit("ALL")).alias("returnflag"),
            F.coalesce(col("l_linestatus"), lit("ALL")).alias("linestatus"),
            "n_items",
            "total_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# q44 — ranking window functions (rank / dense_rank / ntile — beyond the
# reference: §2.5 records none)
# ---------------------------------------------------------------------------

_Q44_ORACLE = """
WITH cust AS (
    SELECT c_nationkey,
           o_custkey,
           round(sum(o_totalprice) + 1e-9, 2) AS cust_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey, o_custkey
),
ranked AS (
    SELECT c_nationkey, o_custkey, cust_value,
           rank() OVER (PARTITION BY c_nationkey ORDER BY cust_value DESC, o_custkey) AS rnk,
           dense_rank() OVER (PARTITION BY c_nationkey ORDER BY cust_value DESC, o_custkey) AS drnk,
           ntile(4) OVER (PARTITION BY c_nationkey ORDER BY cust_value DESC, o_custkey) AS quartile
    FROM cust
)
SELECT c_nationkey, o_custkey, cust_value, rnk, drnk, quartile
FROM ranked
WHERE rnk <= 3
ORDER BY c_nationkey, rnk, o_custkey
"""


@register(
    "q44_customer_rank_per_nation",
    _Q44_ORACLE,
    "Top-3 customers by lifetime value per nation — rank/dense_rank/ntile "
    "window functions (absent from the reference, SURVEY §2.5).",
    operators=("W-rank", "W-dense-rank", "W-ntile"),
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        o.join(broadcast(c), col("o_custkey") == col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(rnd(F.sum("o_totalprice"), 2).alias("cust_value"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("cust_value"), "o_custkey")
    return (
        cust.withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .withColumn("quartile", F.ntile(4).over(w))
        .filter(col("rnk") <= 3)
        .orderBy("c_nationkey", "rnk", "o_custkey")
    )


# ---------------------------------------------------------------------------
# q84 — rolling 7-day time-RANGE window (peak weekly revenue per nation)
# ---------------------------------------------------------------------------

_Q84_ORACLE = """
WITH daily AS (
    SELECT n_name,
           date_trunc('day', o_orderdate)::DATE AS d,
           round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS rev
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, d
),
roll AS (
    SELECT n_name, d,
           round(sum(rev) OVER (
               PARTITION BY n_name
               ORDER BY date_diff('day', DATE '1970-01-01', d)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) + 1e-9, 2) AS rev7
    FROM daily
),
peak AS (
    SELECT n_name, max(rev7) AS peak_rev7 FROM roll GROUP BY n_name
)
SELECT r.n_name, min(r.d) AS peak_day, p.peak_rev7
FROM roll r JOIN peak p ON r.n_name = p.n_name AND r.rev7 = p.peak_rev7
GROUP BY r.n_name, p.peak_rev7
ORDER BY r.n_name
"""


@register(
    "q84_rolling_7day_peak",
    _Q84_ORACLE,
    "Rolling 7-day revenue via a time-RANGE window frame (RANGE BETWEEN "
    "6 PRECEDING on the day number), then the peak week per nation.  "
    "Scale posture: the window runs over the PRE-AGGREGATED daily frame "
    "(|nations| x |days| rows, independent of fact volume), partitioned "
    "by nation — the fact table itself is never windowed.  Daily revenue "
    "and the rolling sum are nudge-rounded in both engines so the "
    "peak-equality compare cannot be flipped by summation order.",
    operators=("W-range-frame", "W2", "J1", "A3", "O3"),
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    daily = (
        li.join(o, col("l_orderkey") == col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") == col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") == col("n_nationkey"))
        .groupBy("n_name", col("o_orderdate").cast("date").alias("d"))
        .agg(
            rnd(F.sum(col("l_extendedprice") * (1 - col("l_discount"))), 2).alias("rev")
        )
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.datediff(col("d"), F.to_date(lit("1970-01-01"))))
        .rangeBetween(-6, 0)
    )
    roll = daily.withColumn("rev7", rnd(F.sum("rev").over(w), 2))
    return (
        roll.withColumn("peak_rev7", F.max("rev7").over(Window.partitionBy("n_name")))
        .filter(col("rev7") == col("peak_rev7"))
        .groupBy("n_name", "peak_rev7")
        .agg(F.min("d").alias("peak_day"))
        .select("n_name", "peak_day", "peak_rev7")
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q86 — winsorized (clipped-at-percentile) robust statistics
# ---------------------------------------------------------------------------

_Q86_ORACLE = """
WITH cuts AS (
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.05) + 1e-9, 6) AS lo_cut,
           round(quantile_cont(l_extendedprice, 0.95) + 1e-9, 6) AS hi_cut
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       c.lo_cut,
       c.hi_cut,
       round(avg(least(greatest(l.l_extendedprice, c.lo_cut), c.hi_cut)) + 1e-9, 4)
           AS winsor_avg,
       round(stddev_samp(least(greatest(l.l_extendedprice, c.lo_cut), c.hi_cut)) + 1e-9, 4)
           AS winsor_std,
       round(avg(l.l_extendedprice) + 1e-9, 4) AS raw_avg
FROM lineitem l
JOIN cuts c USING (l_returnflag)
GROUP BY l.l_returnflag, c.lo_cut, c.hi_cut
ORDER BY l.l_returnflag
"""


@register(
    "q86_winsorized_stats",
    _Q86_ORACLE,
    "Winsorized robust statistics: clip each value at its group's "
    "p05/p95 (exact interpolated percentiles, single array buffer per "
    "group — the q04/A6 posture, with the approx_percentile escape "
    "hatch for 100 TB), broadcast the |groups|-row cutpoint frame back, "
    "clip map-side, aggregate.  Cutpoints are nudge-rounded in both "
    "engines before clipping so interpolation drift cannot flip a "
    "boundary-equal value.",
    operators=("A6", "A5", "J1", "robust-stats"),
)
def q86(spark: SparkSession, sf_dir: str, approx: bool = False) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    cuts = li.groupBy("l_returnflag").agg(
        rnd(pct("l_extendedprice", lit(0.05), approx), 6).alias("lo_cut"),
        rnd(pct("l_extendedprice", lit(0.95), approx), 6).alias("hi_cut"),
    )
    wx = F.least(F.greatest(col("l_extendedprice"), col("lo_cut")), col("hi_cut"))
    return (
        li.join(broadcast(cuts), "l_returnflag")
        .withColumn("wx", wx)
        .groupBy("l_returnflag", "lo_cut", "hi_cut")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            rnd(F.avg("wx"), 4).alias("winsor_avg"),
            rnd(F.stddev_samp("wx"), 4).alias("winsor_std"),
            rnd(F.avg("l_extendedprice"), 4).alias("raw_avg"),
        )
        .select(
            "l_returnflag", "n_items", "lo_cut", "hi_cut",
            "winsor_avg", "winsor_std", "raw_avg",
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q87 — SCD2 (type-2 slowly-changing-dimension) validity intervals
# ---------------------------------------------------------------------------

_Q87_ORACLE = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
    FROM events
),
changes AS (
    SELECT user_id, event_type, ts, event_id
    FROM ordered
    WHERE prev_type IS NULL OR prev_type <> event_type
),
versions AS (
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM changes
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
       round(avg(CASE WHEN valid_to IS NOT NULL
                      THEN date_diff('second', valid_from, valid_to) END) + 1e-9, 4)
           AS avg_duration_s
FROM versions
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q87_scd2_intervals",
    _Q87_ORACLE,
    "Type-2 SCD build from a change stream: collapse consecutive "
    "same-state rows (lag), open validity intervals, close each with "
    "lead() — the standard dimension-history pattern.  Both windows are "
    "partitioned by user_id (bounded per-entity history), so the plan "
    "is one shuffle on the entity key; no global sort anywhere.  "
    "Durations go through to_epoch (NTZ-safe) to match DuckDB "
    "date_diff('second', ...).",
    operators=("W-lag", "W-lead", "scd2", "A4"),
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(col("prev_type").isNull() | (col("prev_type") != col("event_type")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    versions = changes.withColumn(
        "valid_to", F.lead("ts").over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
    )
    dur = to_epoch("valid_to") - to_epoch("ts")
    return (
        versions.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_versions"),
            F.sum(when(col("valid_to").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_current"),
            rnd(F.avg(when(col("valid_to").isNotNull(), dur)), 4).alias(
                "avg_duration_s"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q89 — shuffle-key skew diagnostics (pre-flight for salting decisions)
# ---------------------------------------------------------------------------

_Q89_ORACLE = """
WITH c1 AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY user_id),
s1 AS (
    SELECT 'events.user_id' AS key_col,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS total_rows,
           round(avg(cnt) + 1e-9, 4) AS avg_per_key,
           round(quantile_cont(cnt, 0.5) + 1e-9, 4) AS p50,
           round(quantile_cont(cnt, 0.99) + 1e-9, 4) AS p99,
           CAST(max(cnt) AS BIGINT) AS max_count,
           round(max(cnt) / avg(cnt) + 1e-9, 4) AS skew_factor
    FROM c1
),
t1 AS (SELECT CAST(k AS VARCHAR) AS top_key FROM c1 ORDER BY cnt DESC, k LIMIT 1),
c2 AS (SELECT l_suppkey AS k, count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
s2 AS (
    SELECT 'lineitem.l_suppkey' AS key_col,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS total_rows,
           round(avg(cnt) + 1e-9, 4) AS avg_per_key,
           round(quantile_cont(cnt, 0.5) + 1e-9, 4) AS p50,
           round(quantile_cont(cnt, 0.99) + 1e-9, 4) AS p99,
           CAST(max(cnt) AS BIGINT) AS max_count,
           round(max(cnt) / avg(cnt) + 1e-9, 4) AS skew_factor
    FROM c2
),
t2 AS (SELECT CAST(k AS VARCHAR) AS top_key FROM c2 ORDER BY cnt DESC, k LIMIT 1)
SELECT * FROM s1, t1
UNION ALL
SELECT * FROM s2, t2
ORDER BY key_col
"""


@register(
    "q89_skew_diagnostics",
    _Q89_ORACLE,
    "Shuffle-key skew diagnostics over the two natural join keys "
    "(events.user_id, lineitem.l_suppkey): per-key count distribution "
    "(p50/p99/max), skew factor max/avg, and the heaviest key — the "
    "pre-flight report that decides between plain agg, AQE skew split, "
    "and operators/skew.py salting.  One shuffle per diagnosed key "
    "(the same shuffle the real agg would do), stats over the bounded "
    "|keys|-row frame, TakeOrdered(1) for the top key.",
    operators=("skew-diagnostics", "A6", "A3", "O1"),
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import skew_report

    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        skew_report(ev, "user_id", "events.user_id")
        .unionByName(skew_report(li, "l_suppkey", "lineitem.l_suppkey"))
        .orderBy("key_col")
    )


# ---------------------------------------------------------------------------
# q90 — built-in linear-regression aggregates (per-group OLS fit)
# ---------------------------------------------------------------------------

_Q90_ORACLE = """
SELECT l_returnflag,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
       round(regr_slope(l_extendedprice, l_quantity) + 1e-9, 6) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity) + 1e-9, 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity) + 1e-9, 6) AS r2,
       round(corr(l_extendedprice, l_quantity) + 1e-9, 6) AS corr_pq
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "q90_regression_aggregates",
    _Q90_ORACLE,
    "Per-group OLS fit of price on quantity with the ANSI regression "
    "aggregates (regr_slope/intercept/r2 + corr) — one hash-aggregate "
    "shuffle, all moments accumulated map-side in a single pass (the "
    "same partial-merge shape as avg/stddev); no second scan, no "
    "collect.  Slope/intercept are ratios of co-moment sums, so "
    "cross-engine summation-order drift cancels and the nudge-rounding "
    "grids (6/4 dp) sit far above residual FP noise.",
    operators=("A-regr", "A3", "A5"),
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y, x = col("l_extendedprice"), col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.regr_count(y, x).cast("long").alias("n_pairs"),
            rnd(F.regr_slope(y, x), 6).alias("slope"),
            rnd(F.regr_intercept(y, x), 4).alias("intercept"),
            rnd(F.regr_r2(y, x), 6).alias("r2"),
            rnd(F.corr(y, x), 6).alias("corr_pq"),
        )
        .orderBy("l_returnflag")
    )


# Data-pipeline extension queries (dedup / text / similarity) register
# themselves into the same QUERIES dict on import.
from . import catalog_datapipe  # noqa: E402,F401  (registration side-effect)
