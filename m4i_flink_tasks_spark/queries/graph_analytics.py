"""Graph-analytics queries over the supplier co-occurrence graph.

The reference's graph surface is hierarchy maintenance (G1-G28:
supertype closures, breadcrumbs) — no whole-graph analytics. This module
adds the analytics a data-platform team runs NEXT on the same entity
graph — here Adamic-Adar link prediction — expressed as pure DataFrame
joins/aggregations so Catalyst/AQE pick the physical strategy.

Graph construction: the raw "co-supplied ≥1 order" relation is
COMPLETE on this data (every supplier pair shares some order), so the
graph is sparsified the way production similarity graphs are: each
node keeps only its top-k strongest neighbors by co-supply weight
(k=3, ties broken by suppkey), and the union of those directed picks
is the undirected edge set. That keeps degree bounded regardless of
data scale — the same reason ANN pipelines emit k-NN graphs rather
than thresholded ones. Orders carry a bounded number of lines, so the
per-order pair fan-out is O(lines²) with a small constant — at 100 TB
the edge build shuffles lineitem once on l_orderkey, the weight
aggregation once on the pair key, and the top-k is a per-node window
(shuffle on node), all with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table

_K_NEIGHBORS = 3

_EDGES_SQL = f"""
li AS (
    SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
pair_w AS (
    SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS wt
    FROM li a
    JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY a.l_suppkey, b.l_suppkey
),
sym_w AS (
    SELECT s1 AS u, s2 AS v, wt FROM pair_w
    UNION ALL
    SELECT s2 AS u, s1 AS v, wt FROM pair_w
),
knn AS (
    SELECT u, v
    FROM (SELECT u, v,
                 row_number() OVER (PARTITION BY u
                                    ORDER BY wt DESC, v) AS r
          FROM sym_w)
    WHERE r <= {_K_NEIGHBORS}
),
edges AS (
    SELECT DISTINCT least(u, v) AS s1, greatest(u, v) AS s2 FROM knn
)
"""


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (s1 < s2) undirected top-k co-supply edges."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    pair_w = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("s1"),
            F.col("b.l_suppkey").alias("s2"),
        )
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    sym_w = pair_w.select(
        F.col("s1").alias("u"), F.col("s2").alias("v"), "wt"
    ).unionAll(
        pair_w.select(F.col("s2").alias("u"), F.col("s1").alias("v"), "wt")
    )
    win = Window.partitionBy("u").orderBy(F.desc("wt"), F.asc("v"))
    knn = (
        sym_w.withColumn("r", F.row_number().over(win))
        .filter(F.col("r") <= _K_NEIGHBORS)
        .select("u", "v")
    )
    return knn.select(
        F.least("u", "v").alias("s1"), F.greatest("u", "v").alias("s2")
    ).distinct()


def adamic_adar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar, "Friends and
    neighbors on the Web", Social Networks 2003) beside the raw
    common-neighbor count: each shared neighbor z contributes
    1/ln(deg(z)), so hub co-neighbors count less. Every wedge center
    has degree >= 2 by construction (it connects u and w), so the
    discount is always finite.

    Determinism: each wedge term is snapped to INTEGER micro-units
    (round(1e6/ln(deg))) before the per-pair sum, so the score is an
    order-free integer monoid and the ranking can never move on float
    summation order (the repo's integer-Jacobi convention); the float
    score column is one final division; the top-k is a TakeOrdered."""
    edges = _supplier_edges(spark, sf_dir)
    sym = edges.select("s1", "s2").unionAll(
        edges.select(F.col("s2").alias("s1"), F.col("s1").alias("s2"))
    )
    deg = sym.groupBy("s1").agg(F.count(F.lit(1)).alias("deg"))
    p1 = sym.alias("p1")
    p2 = sym.alias("p2")
    wedges = p1.join(
        p2,
        (F.col("p1.s2") == F.col("p2.s1"))
        & (F.col("p1.s1") < F.col("p2.s2")),
    ).select(
        F.col("p1.s1").alias("u"),
        F.col("p1.s2").alias("z"),
        F.col("p2.s2").alias("w"),
    )
    scored = (
        wedges.join(
            F.broadcast(deg.withColumnRenamed("s1", "z")), "z"
        )
        .select(
            "u",
            "w",
            F.round(F.lit(1_000_000) / F.log(F.col("deg")))
            .cast("long")
            .alias("term"),
        )
        .groupBy("u", "w")
        .agg(F.sum("term").alias("aa_micro"))
    )
    existing = edges.select(
        F.col("s1").alias("u"), F.col("s2").alias("w")
    )
    return (
        scored.join(existing, ["u", "w"], "left_anti")
        .orderBy(F.desc("aa_micro"), "u", "w")
        .limit(10)
        .select(
            F.col("u").alias("suppkey_a"),
            F.col("w").alias("suppkey_b"),
            "aa_micro",
            F.round(F.col("aa_micro") / 1e6, 6).alias("aa_score"),
        )
    )


ADAMIC_ADAR_SQL = f"""
WITH {_EDGES_SQL},
sym AS (
    SELECT s1, s2 FROM edges
    UNION ALL
    SELECT s2 AS s1, s1 AS s2 FROM edges
),
deg AS (SELECT s1 AS z, count(*) AS deg FROM sym GROUP BY 1),
wedges AS (
    SELECT p1.s1 AS u, p1.s2 AS z, p2.s2 AS w
    FROM sym p1
    JOIN sym p2 ON p1.s2 = p2.s1 AND p1.s1 < p2.s2
),
scored AS (
    SELECT u, w,
           sum(round(1000000 / ln(deg))::BIGINT)::BIGINT AS aa_micro
    FROM wedges JOIN deg USING (z)
    GROUP BY u, w
)
SELECT u AS suppkey_a, w AS suppkey_b, aa_micro,
       round(aa_micro / 1e6, 6) AS aa_score
FROM scored
WHERE NOT EXISTS (SELECT 1 FROM edges
                  WHERE edges.s1 = scored.u AND edges.s2 = scored.w)
ORDER BY aa_micro DESC, u, w
LIMIT 10
"""


QUERIES = {
    "adamic_adar_topk": adamic_adar_topk,
}

ORACLES = {
    "adamic_adar_topk": ADAMIC_ADAR_SQL,
}
