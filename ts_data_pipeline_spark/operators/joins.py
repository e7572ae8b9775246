"""Join strategies for dimension enrichment and large-scale analytics.

The reference performs no joins at all (SURVEY §2.9) — every record
is enriched in isolation. A reusable engine needs them the moment a
query spans streams (dimension lookups, fact-to-fact rollups,
existence checks), so this module establishes the three strategy
archetypes and pins the physical plan each should compile to:

- **broadcast dimension join**: small side shipped to every task, no
  shuffle of the fact table (`BroadcastHashJoin`). At 100 TB the fact
  side never moves; only the dimension (bounded) does.
- **co-partitioned large-large join**: both sides shuffled on the
  join key once (`SortMergeJoin` / `ShuffledHashJoin`); with bucketed
  storage on the key the shuffle disappears entirely.
- **semi/anti existence joins**: no payload duplication, Spark keeps
  only the key probe side (`LeftSemi` / `LeftAnti`).

tests/test_joins.py asserts the chosen physical operators via
explain, so a regression that silently flips a broadcast into a
shuffle fails CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dim_enrich_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    date_from: str = "1995-01-01",
    date_to: str = "1996-01-01",
) -> DataFrame:
    """Revenue by part brand over a ship-date range.

    Fact scan is pruned by the pushed date filter; ``part`` is
    explicitly broadcast as the dimension-shaped plan. Honest scale
    caveat: TPC-H's part table grows WITH the scale factor (unlike a
    true product catalog), so past Spark's broadcast ceiling the
    hint must come off and this becomes a shuffle join on partkey —
    same expression, one co-partitioned pass, and AQE's size gate
    makes that call automatically when no hint is forced. The hint
    stays here because the registered gate pins the dimension-join
    plan shape at test SFs.
    """
    li = lineitem.filter(
        (F.col("l_shipdate") >= date_from) & (F.col("l_shipdate") < date_to)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def dim_enrich_revenue_sql(
    date_from: str = "1995-01-01", date_to: str = "1996-01-01"
) -> str:
    return f"""
SELECT p_brand,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '{date_from}' AND l_shipdate < DATE '{date_to}'
GROUP BY p_brand
"""


def segment_order_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    top_n: int = 10,
) -> DataFrame:
    """TPC-H Q3-shaped rollup: top orders by revenue for one segment.

    customer (filtered, then broadcast-sized at low SF but written
    without a hint so the planner picks by stats/AQE) joins orders,
    then the orders->lineitem join is the genuine large-large shuffle
    on the natural key. Group keys ride the join key (l_orderkey), so
    the final agg reuses the join shuffle's partitioning.

    The lineitem side carries a ``shuffle_merge`` hint (r16): size
    estimates put the 3-column lineitem projection under the
    broadcast threshold at bench SF, so the planner was BROADCASTING
    THE FACT TABLE — a driver-side collect + hash-relation build of
    the largest relation (guide §3.1: estimates are often badly wrong
    after projections; pick the strategy deliberately). Sort-merge is
    what the planner itself picks once lineitem's stats exceed the
    threshold (any realistic scale), spills gracefully, and measured
    -30% at sf0.1 / -17% at synth sf1 (OPTIMIZATION_r16.md,
    value-identical). AQE may still re-plan the post-shuffle join;
    the hint only forbids the fact-table broadcast.
    """
    c = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    o = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    li = lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li.hint("shuffle_merge"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(top_n)
    )


def segment_order_revenue_sql(segment: str = "BUILDING", top_n: int = 10) -> str:
    return f"""
SELECT o_orderkey, o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = '{segment}'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT {top_n}
"""


def customers_without_orders(
    customer: DataFrame,
    orders: DataFrame,
    date_from: str = "1995-01-01",
    date_to: str = "1995-04-01",
) -> DataFrame:
    """Anti join: customers with no order inside a date window."""
    window_orders = orders.filter(
        (F.col("o_orderdate") >= date_from) & (F.col("o_orderdate") < date_to)
    ).select("o_custkey")
    return (
        customer.join(
            window_orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1995-04-01')
"""


def customers_with_high_value_orders(
    customer: DataFrame, orders: DataFrame, min_total: float = 100_000.0
) -> DataFrame:
    """Semi join: customers having at least one order above min_total."""
    big = orders.filter(F.col("o_totalprice") > min_total).select("o_custkey")
    return (
        customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )


def customers_with_high_value_orders_sql(min_total: float = 100_000.0) -> str:
    return f"""
SELECT c_custkey, c_mktsegment, c_acctbal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > {min_total})
"""
