"""Core relational queries over the TPC-H-ish testdata.

These are the engine's headline/bench queries. The reference has no SQL
surface (SURVEY §2.6) — its row transforms are P1-P15 map/filter chains —
so this module is the generic-operator coverage the driver's correctness
gate runs: scan → filter (pushdown) → project (pruning) → hash-agg →
broadcast/sort-merge join → window → top-k, all as Catalyst-native plans.

Scale notes (100 TB posture):
- every query filters before joining, so parquet scans get PushedFilters;
- dimension sides (region/nation/customer-filtered) are broadcast — no
  shuffle of the fact table for those joins;
- aggregations are partial (map-side combine) by construction via groupBy;
- no Python UDFs anywhere on these paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-agg with map-side combine, 4 aggregates.

    Reference parity: the reference has no aggregation operator at all
    (SURVEY §2.3); this exercises the hash-agg path the re-engine adds.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2)                                  AS sum_qty,
       round(sum(l_extendedprice), 2)                             AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
       round(avg(l_discount), 6)                                  AS avg_disc,
       count(*)                                                   AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered 3-way join + agg + top-10.

    customer is filtered to one segment then broadcast; orders/lineitem
    join is the only shuffle.
    """
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        )
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d')                          AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2)          AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; all dimensions broadcast.

    The fact table (lineitem) shuffles once for the orders join; region/
    nation/supplier/customer chains stay broadcast-hash.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    dims = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(dims),
            (supplier.s_nationkey == nation.n_nationkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


Q5_SQL = """
SELECT r_name,
       n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2)          AS revenue,
       count(*)                                                   AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON s_nationkey = n_nationkey AND c_nationkey = s_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — the pushdown check. Every
    predicate should appear in the scan's PushedFilters."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2)                AS revenue,
       count(*)                                                   AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per key: rank orders by totalprice within customer,
    keep top 3. The streaming analogue of the reference's top-1 as-of
    lookup (D8) generalized to k>1."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank_in_cust", F.row_number().over(w))
        .filter(F.col("rank_in_cust") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
        .orderBy("o_custkey", "rank_in_cust")
    )


TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC
           ) AS rank_in_cust
    FROM orders
)
WHERE rank_in_cust <= 3
ORDER BY o_custkey, rank_in_cust
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "q6_forecast_revenue": q6_forecast_revenue,
    "top_orders_per_customer": top_orders_per_customer,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_region_revenue": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "top_orders_per_customer": TOP_ORDERS_SQL,
}
