"""Capability-widening queries: set operations, rollup/cube grouping,
the P6 direct-change classifier, and the as-of join operator — the
surfaces SURVEY §2.6 records as absent from the reference, provided here
as first-class engine operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.local_frame import local_frame

from ..operators.asof import asof_join
from ..sources import load_table


def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer key sets: customers with
    orders vs customers with positive balance. One row per (set_op,
    n_keys).

    Scale shape: the naive form (three physical set operators over the
    same inputs) scans each side three times and shuffles per operator
    — 13 exchanges at plan level. Set algebra over DISTINCT key sets is
    one membership-flag aggregation: union each side with an indicator,
    max the indicators per key (ONE shuffle), and all three counts are
    conditional sums of the same pass. ``test_plan_shape`` pins the
    exchange count."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with_orders = customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_semi",
    ).select("c_custkey")
    high_balance = customer.filter(F.col("c_acctbal") > 0).select("c_custkey")
    flags = (
        with_orders.select(
            "c_custkey", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
        )
        .unionByName(
            high_balance.select(
                "c_custkey", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
            )
        )
        .groupBy("c_custkey")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    counts = flags.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.count_if((F.col("in_a") == 1) & (F.col("in_b") == 1)).alias(
            "n_intersect"
        ),
        F.count_if((F.col("in_a") == 1) & (F.col("in_b") == 0)).alias(
            "n_except"
        ),
    )
    return (
        counts.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("union").alias("set_op"),
                        F.col("n_union").alias("n"),
                    ),
                    F.struct(
                        F.lit("intersect").alias("set_op"),
                        F.col("n_intersect").alias("n"),
                    ),
                    F.struct(
                        F.lit("except").alias("set_op"),
                        F.col("n_except").alias("n"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .orderBy("set_op")
    )


SET_OPERATIONS_SQL = """
WITH with_orders AS (
    SELECT DISTINCT c_custkey FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
), high_balance AS (
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
)
SELECT 'union' AS set_op,
       (SELECT count(*) FROM (SELECT * FROM with_orders UNION SELECT * FROM high_balance)) AS n
UNION ALL
SELECT 'intersect',
       (SELECT count(*) FROM (SELECT * FROM with_orders INTERSECT SELECT * FROM high_balance))
UNION ALL
SELECT 'except',
       (SELECT count(*) FROM (SELECT * FROM with_orders EXCEPT SELECT * FROM high_balance))
ORDER BY set_op
"""


def rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (order year, priority): per-group, per-year and grand
    totals in one pass — partial-aggregatable, one shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            "o_orderpriority",
            "o_totalprice",
        )
        .rollup("order_year", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("order_year", "o_orderpriority")
    )


ROLLUP_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (order_year, o_orderpriority)
ORDER BY order_year, o_orderpriority
"""


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube are sugar
    for: exactly (year), (priority), and () totals in one pass, WITHOUT
    the (year, priority) cell a rollup would also compute. Same Expand-
    based plan as the rollup: one scan, one shuffle, each input row
    replicated once per set. A grouping_id column disambiguates the
    NULL-as-total rows from genuine NULLs."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            "o_orderpriority",
            "o_totalprice",
        )
        .groupingSets(
            [["order_year"], ["o_orderpriority"], []],
            "order_year",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("grouping_id"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("grouping_id", "order_year", "o_orderpriority")
    )


GROUPING_SETS_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       o_orderpriority,
       grouping(order_year) * 2 + grouping(o_orderpriority)
           AS grouping_id,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((order_year), (o_orderpriority), ())
ORDER BY grouping_id, order_year, o_orderpriority
"""


def cube_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping combinations."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def direct_change_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 is_direct_change (determine_change_job.py:85-93): per entity,
    the per-record audit-log REST fetch (S13, get_entity_audit,
    determine_change_job.py:88) becomes a join against the audit table;
    regex-extract the first JSON object from the latest audit 'details'
    payload, probe one key, default True when no audit exists.

    Here: each user's latest event's ``props`` plays the audit details;
    direct iff its ``k`` exceeds 50; users without events default true.
    The regexp_extract + get_json_object + coalesce chain is the
    reference's exact decision shape, set-at-a-time."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    latest_audit = (
        events.groupBy("user_id")
        .agg(
            F.max_by(
                "props", F.struct(F.col("ts"), F.col("event_id"))
            ).alias("details")
        )
    )
    joined = customer.select(F.col("c_custkey").alias("entity_id")).join(
        latest_audit,
        F.col("entity_id") == F.col("user_id"),
        "left",
    )
    extracted = F.get_json_object(
        F.regexp_extract(F.col("details"), r"\{.*\}", 0), "$.k"
    ).cast("long")
    return (
        joined.select(
            "entity_id",
            F.coalesce(extracted > 50, F.lit(True)).alias("direct_change"),
        )
        .groupBy("direct_change")
        .agg(F.count(F.lit(1)).alias("n_entities"))
        .orderBy("direct_change")
    )


DIRECT_CHANGE_SQL = """
WITH ranked AS (
    SELECT user_id, props,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
), latest AS (
    SELECT user_id, props AS details FROM ranked WHERE rn = 1
), classified AS (
    SELECT c_custkey AS entity_id,
           coalesce(
               CAST(json_extract(regexp_extract(details, '\\{.*\\}', 0), '$.k') AS BIGINT) > 50,
               TRUE
           ) AS direct_change
    FROM customer
    LEFT JOIN latest ON c_custkey = user_id
)
SELECT direct_change, count(*) AS n_entities
FROM classified
GROUP BY direct_change
ORDER BY direct_change
"""


def asof_join_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join as a user-facing operator (D8 generalized): for each
    order whose custkey is also an event user, the latest event value
    strictly before the order date. One shuffle, no join explosion
    (operators/asof.py)."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    left = orders.select(
        F.col("o_orderkey"),
        F.col("o_custkey").alias("user_id"),
        F.unix_millis(F.to_timestamp("o_orderdate")).alias("order_ts_ms"),
    ).filter(F.col("user_id") < 150)
    right = events.select(
        "user_id",
        F.unix_millis("ts").alias("ev_ts_ms"),
        F.round("value", 6).alias("ev_value"),
    )
    out = asof_join(
        left,
        right,
        on=["user_id"],
        left_time="order_ts_ms",
        right_time="ev_ts_ms",
        value_cols=["ev_value", "ev_ts_ms"],
        strict=True,
    )
    return out.select(
        "o_orderkey",
        "user_id",
        F.col("ev_value_asof").alias("last_event_value"),
        F.col("ev_ts_ms_asof").alias("last_event_ts_ms"),
    ).orderBy("o_orderkey")


ASOF_JOIN_SQL = """
SELECT o_orderkey,
       o_custkey AS user_id,
       (SELECT round(e.value, 6) FROM events e
        WHERE e.user_id = o.o_custkey
          AND epoch_ms(e.ts) < epoch_ms(CAST(o.o_orderdate AS TIMESTAMP))
        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS last_event_value,
       (SELECT epoch_ms(e.ts) FROM events e
        WHERE e.user_id = o.o_custkey
          AND epoch_ms(e.ts) < epoch_ms(CAST(o.o_orderdate AS TIMESTAMP))
        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS last_event_ts_ms
FROM orders o
WHERE o.o_custkey < 150
ORDER BY o_orderkey
"""


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators.skew.salted_join): ``events`` is the
    pathological hot-key fact — every row carries one of a handful of
    ``event_type`` values, so an unsalted shuffle join lands each type
    on a single reducer. Salting spreads each type over 8 reducers; the
    per-type dimension rides along replicated. Semantics are identical
    to the plain join, which is exactly what the oracle checks."""
    from ..operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    dim = (
        events.select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type"))
    )
    joined = salted_join(events, dim, "event_type", n_salts=8)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("type_weight")), 2).alias(
                "weighted_value"
            ),
        )
        .orderBy("event_type")
    )


SKEW_SALTED_JOIN_SQL = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value * length(event_type)), 2) AS weighted_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# Non-aligned tier bounds (dollars) so the banding demo is the GENERAL
# case: a tier can span several bands and a band several tiers.
_PRICE_TIERS = (
    ("budget", 0, 150_000),
    ("mid", 150_000, 280_000),
    ("premium", 280_000, 600_000),
)
_BAND_DOLLARS = 50_000


def price_tier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join turned equi join via banding — the standard rewrite
    for interval-dimension joins that Spark would otherwise plan as a
    broadcast nested loop with a BETWEEN residual over every row.

    Each tier interval explodes into the integer bands it covers
    (dimension-side, a handful of rows); the fact side computes its
    band with integer division; the join is then a plain broadcast
    HASH join on the band key with the BETWEEN as a residual filter —
    per fact row the candidate tiers are only those sharing its band,
    not the whole dimension. No nested loop appears in the plan
    (pinned). Same answer as the naive theta join by construction; the
    oracle runs the naive form.
    """
    tiers = local_frame(
        spark,
        [
            (name, lo, hi, band)
            for name, lo, hi in _PRICE_TIERS
            for band in range(lo // _BAND_DOLLARS, (hi - 1) // _BAND_DOLLARS + 1)
        ],
        "tier string, lo long, hi long, band long",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice").cast("long") / F.lit(_BAND_DOLLARS))
        .cast("long")
        .alias("band"),
    )
    return (
        orders.join(F.broadcast(tiers), "band")
        .filter(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi"))
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("tier")
    )


_TIER_VALUES = ",\n           ".join(
    f"('{name}', {lo}, {hi})" for name, lo, hi in _PRICE_TIERS
)

PRICE_TIER_SQL = f"""
WITH tiers(tier, lo, hi) AS (
    VALUES {_TIER_VALUES}
)
SELECT t.tier,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN tiers t
  ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
GROUP BY t.tier
ORDER BY t.tier
"""

QUERIES = {
    "set_operations": set_operations,
    "rollup_order_totals": rollup_order_totals,
    "grouping_sets_revenue": grouping_sets_revenue,
    "cube_lineitem_stats": cube_lineitem_stats,
    "direct_change_classifier": direct_change_classifier,
    "asof_join_orders_events": asof_join_orders_events,
    "skew_salted_join": skew_salted_join,
    "price_tier_revenue": price_tier_revenue,
}

ORACLES = {
    "set_operations": SET_OPERATIONS_SQL,
    "rollup_order_totals": ROLLUP_SQL,
    "grouping_sets_revenue": GROUPING_SETS_SQL,
    "cube_lineitem_stats": CUBE_SQL,
    "direct_change_classifier": DIRECT_CHANGE_SQL,
    "asof_join_orders_events": ASOF_JOIN_SQL,
    "skew_salted_join": SKEW_SALTED_JOIN_SQL,
    "price_tier_revenue": PRICE_TIER_SQL,
}
