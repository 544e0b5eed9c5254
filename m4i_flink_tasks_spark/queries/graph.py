"""Graph / hierarchy-maintenance queries (SURVEY §2.5, G1-G4, G9).

The driver gate runs these against DuckDB recursive CTEs over the same
literal edge set — the Spark side uses the iterative-join fixpoint from
``functions.hierarchy`` (broadcast-dimension design for 100 TB streams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.local_frame import local_frame
from pyspark.storagelevel import StorageLevel

from ..functions.hierarchy import (
    BUSINESS_SOURCE_TYPES,
    HIERARCHY_MAPPING,
    M4I_BASE_TYPES,
    TYPE_EDGES,
    breadcrumb_paths_df,
    supertype_closure_df,
)
from ..sources import load_table


def _edges_values_sql(alias: str = "edges") -> str:
    rows = ", ".join(f"('{c}', '{p}')" for c, p in TYPE_EDGES)
    return f"(VALUES {rows}) AS {alias}(typename, supertype)"


def _hierarchy_values_sql(alias: str = "h") -> str:
    rows = ", ".join(f"('{c}', '{p}')" for c, p in HIERARCHY_MAPPING.items())
    return f"(VALUES {rows}) AS {alias}(typename, parent)"


def supertype_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: transitive supertype closure of the type DAG.
    Reference: get_super_types (synchronize_app_search.py:27-48) —
    per-record recursive REST over the type-def lookup (S14,
    get_type_def, synchronize_app_search.py:30); here a one-time
    fixpoint join producing a broadcast dimension."""
    return supertype_closure_df(spark).select(
        "typename",
        F.array_join("supertypes", ",").alias("supertypes"),
        F.size("supertypes").alias("n_supertypes"),
    ).orderBy("typename")


SUPERTYPE_CLOSURE_SQL = f"""
WITH RECURSIVE closure(typename, supertype) AS (
    SELECT typename, supertype FROM {_edges_values_sql()}
    UNION
    SELECT c.typename, e.supertype
    FROM closure c
    JOIN {_edges_values_sql('e')}
      ON c.supertype = e.typename
)
SELECT typename,
       array_to_string(list_sort(list(DISTINCT supertype)), ',') AS supertypes,
       count(DISTINCT supertype) AS n_supertypes
FROM closure
GROUP BY typename
ORDER BY typename
"""


def source_type_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2+G3: Business iff any business base type is in {self} ∪ closure,
    else Technical; m4isourcetype = intersection with the 7 base types.
    Reference: get_source_type / get_m4i_source_types
    (synchronize_app_search.py:55-60, :95-99)."""
    closure = supertype_closure_df(spark)
    with_self = closure.select(
        "typename",
        F.array_sort(
            F.array_union("supertypes", F.array(F.col("typename")))
        ).alias("closure_and_self"),
    )
    return with_self.select(
        "typename",
        F.when(
            F.arrays_overlap(
                "closure_and_self",
                F.lit(list(BUSINESS_SOURCE_TYPES)),
            ),
            F.lit("Business"),
        )
        .otherwise(F.lit("Technical"))
        .alias("sourcetype"),
        F.array_join(
            F.array_sort(
                F.array_intersect("closure_and_self", F.lit(list(M4I_BASE_TYPES)))
            ),
            ",",
        ).alias("m4isourcetype"),
    ).orderBy("typename")


_BUSINESS_LIST = ", ".join(f"'{t}'" for t in BUSINESS_SOURCE_TYPES)
_BASE_LIST = ", ".join(f"'{t}'" for t in M4I_BASE_TYPES)

SOURCE_TYPE_SQL = f"""
WITH RECURSIVE closure(typename, supertype) AS (
    SELECT typename, supertype FROM {_edges_values_sql()}
    UNION
    SELECT c.typename, e.supertype
    FROM closure c
    JOIN {_edges_values_sql('e')}
      ON c.supertype = e.typename
), with_self AS (
    SELECT typename,
           list_sort(list_distinct(list(supertype) || [typename])) AS closure_and_self
    FROM closure
    GROUP BY typename
)
SELECT typename,
       CASE WHEN len(list_intersect(closure_and_self, [{_BUSINESS_LIST}])) > 0
            THEN 'Business' ELSE 'Technical' END AS sourcetype,
       coalesce(array_to_string(list_sort(list_intersect(closure_and_self, [{_BASE_LIST}])), ','), '') AS m4isourcetype
FROM with_self
ORDER BY typename
"""


def breadcrumb_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: ancestor path root→parent per type over the containment map
    (define_breadcrumb, synchronize_app_search.py:467-482)."""
    return breadcrumb_paths_df(spark).select(
        "typename",
        F.array_join("breadcrumbtype", ",").alias("breadcrumbtype"),
        F.size("breadcrumbtype").alias("breadcrumb_depth"),
    ).orderBy("typename")


BREADCRUMB_SQL = f"""
WITH RECURSIVE path(typename, parent, depth) AS (
    SELECT typename, parent, 1 FROM {_hierarchy_values_sql()}
    UNION ALL
    SELECT p.typename, h.parent, p.depth + 1
    FROM path p
    JOIN {_hierarchy_values_sql('h')}
      ON p.parent = h.typename
)
SELECT typename,
       array_to_string(list(parent ORDER BY depth DESC), ',') AS breadcrumbtype,
       count(*) AS breadcrumb_depth
FROM path
GROUP BY typename
ORDER BY typename
"""


def parent_type_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: static child-type → parent-type map as a broadcast literal
    (get_parent_type, synchronize_app_search.py:74-76; HierarchyMapping.py:3-9)."""
    mapping = F.create_map(
        *[F.lit(x) for pair in HIERARCHY_MAPPING.items() for x in pair]
    )
    types = local_frame(
        spark,
        [(t,) for t in sorted(set(HIERARCHY_MAPPING) | set(HIERARCHY_MAPPING.values()))],
        "typename string",
    )
    return types.select(
        "typename",
        F.coalesce(mapping[F.col("typename")], F.lit("(root)")).alias("parent_type"),
    ).orderBy("typename")


_PARENT_CASES = " ".join(
    f"WHEN '{c}' THEN '{p}'" for c, p in HIERARCHY_MAPPING.items()
)
_ALL_TYPES = ", ".join(
    f"('{t}')" for t in sorted(set(HIERARCHY_MAPPING) | set(HIERARCHY_MAPPING.values()))
)

PARENT_TYPE_SQL = f"""
SELECT typename,
       coalesce(CASE typename {_PARENT_CASES} END, '(root)') AS parent_type
FROM (VALUES {_ALL_TYPES}) AS t(typename)
ORDER BY typename
"""


def type_hierarchy_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1+G4+S14 in one proof row: the transitive supertype closure
    (get_super_types, synchronize_app_search.py:27-48, over the S14
    type-def lookup :30) and the containment parent-type map
    (get_parent_type, :74-76; HierarchyMapping.py:3-9), tagged by ``op``.
    Both sides are literal broadcast dimensions — no data-scale scan."""
    closure = supertype_closure_df(spark).select(
        "typename",
        F.lit("supertype_closure").alias("op"),
        F.array_join("supertypes", ",").alias("value"),
    )
    mapping = F.create_map(
        *[F.lit(x) for pair in HIERARCHY_MAPPING.items() for x in pair]
    )
    types = local_frame(
        spark,
        [(t,) for t in sorted(set(HIERARCHY_MAPPING) | set(HIERARCHY_MAPPING.values()))],
        "typename string",
    )
    parents = types.select(
        "typename",
        F.lit("parent_type").alias("op"),
        F.coalesce(mapping[F.col("typename")], F.lit("(root)")).alias("value"),
    )
    return closure.unionByName(parents).orderBy("op", "typename")


TYPE_HIERARCHY_OPS_SQL = f"""
WITH RECURSIVE closure(typename, supertype) AS (
    SELECT typename, supertype FROM {_edges_values_sql()}
    UNION
    SELECT c.typename, e.supertype
    FROM closure c
    JOIN {_edges_values_sql('e')}
      ON c.supertype = e.typename
)
SELECT typename,
       'supertype_closure' AS op,
       array_to_string(list_sort(list(DISTINCT supertype)), ',') AS value
FROM closure
GROUP BY typename
UNION ALL
SELECT typename,
       'parent_type' AS op,
       coalesce(CASE typename {_PARENT_CASES} END, '(root)') AS value
FROM (VALUES {_ALL_TYPES}) AS t(typename)
ORDER BY op, typename
"""


_PR_SCALE = 1_000_000_000_000  # fixed-point denominator, exact int sums
_PR_TOP = 100


def _purchase_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(edges, outdeg, nodes, totals) of the supplier → customer
    purchase graph. The edge relation feeds out-degree, the node set
    (both sides), and every iteration's contribution join — without
    persisting, the physical plan recomputes the lineitem ⋈ orders
    join once per consumer (verified via explain). Caching edges is
    the iterative-graph baseline."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("C"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    totals = nodes.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
        outdeg.agg(F.count(F.lit(1)).alias("n_src"))
    )
    return edges, outdeg, nodes, totals


_PR_N_ITER = 3


def pagerank_power_iterations(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = _PR_N_ITER,
    top: int | None = _PR_TOP,
) -> DataFrame:
    """PageRank by ``n_iter`` power iterations, ENTIRELY in fixed-point
    BIGINT arithmetic — rank mass lives as ``r = round(rank * SCALE)``
    and every update is integer: contributions ``r div outdeg``,
    damping ``(85 * x) div 100``, teleport ``(15*SCALE) div (100*N)``.
    No float ever enters the loop, so the result is bit-identical
    across partitionings, engines, and cluster layouts — which is what
    lets a 3-iteration DuckDB oracle (the same updates unrolled as
    CTEs) hash-match exactly.

    Scale shape: the persisted edge relation is built once; each
    iteration is one join of the rank state against the edges (the
    only data-sized shuffle), one integer aggregation, and a 1-row
    dangling-mass action — the same per-iteration profile as the
    label-propagation loop in operators/components.py, with
    ``localCheckpoint`` flattening lineage so iteration N's plan does
    not replay iterations 1..N-1.
    """
    edges, outdeg, nodes, totals = _purchase_graph(spark, sf_dir)
    n_nodes = totals.collect()[0].n_nodes  # one-row action, by design
    teleport = (15 * _PR_SCALE) // (100 * n_nodes)
    dangling = nodes.join(
        outdeg.select(F.col("src").alias("node")), "node", "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ranks = nodes.select(
        "node", F.lit(_PR_SCALE // n_nodes).cast("long").alias("r")
    )
    for _ in range(n_iter):
        d_mass = (
            ranks.join(F.broadcast(dangling), "node", "leftsemi")
            .agg(F.sum("r"))
            .collect()[0][0]
            or 0
        )
        share = d_mass // n_nodes
        contrib = (
            edges.join(F.broadcast(outdeg), "src")
            .join(
                ranks.select(
                    F.col("node").alias("src"), F.col("r").alias("r_src")
                ),
                "src",
            )
            .select("dst", F.expr("r_src div outdeg").alias("c"))
        )
        in_s = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("in_s")
        )
        ranks = (
            nodes.join(in_s, "node", "left")
            .select(
                "node",
                F.expr(
                    f"{teleport}L + (85 * (coalesce(in_s, 0L) + {share}L))"
                    " div 100"
                ).alias("r"),
            )
            .localCheckpoint()
        )
    out = ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r") / F.lit(float(_PR_SCALE)), 9).alias("rank"),
    ).orderBy(F.col("rank_scaled").desc(), F.col("node"))
    return out if top is None else out.limit(top)


def _pagerank_power_sql(n_iter: int = _PR_N_ITER) -> str:
    """The same integer updates unrolled as CTE stages."""
    parts = [
        f"""
WITH edges AS (
    SELECT DISTINCT 'S' || l_suppkey::VARCHAR AS src,
           'C' || o_custkey::VARCHAR AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), outdeg AS (
    SELECT src, count(*) AS outdeg FROM edges GROUP BY src
), nodes AS (
    SELECT src AS node FROM edges
    UNION
    SELECT dst AS node FROM edges
), totals AS (
    SELECT count(*) AS n_nodes FROM nodes
), r0 AS (
    SELECT node, {_PR_SCALE} // t.n_nodes AS r FROM nodes, totals t
)"""
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(
            f""", d{i} AS (
    SELECT coalesce(sum(r), 0) AS dm FROM r{p}
    WHERE node NOT IN (SELECT src FROM outdeg)
), i{i} AS (
    SELECT e.dst AS node, sum(r.r // o.outdeg) AS in_s
    FROM edges e JOIN outdeg o USING (src) JOIN r{p} r ON r.node = e.src
    GROUP BY e.dst
), r{i} AS (
    SELECT n.node,
           (15::BIGINT * {_PR_SCALE}) // (100 * t.n_nodes)
           + (85 * (coalesce(i.in_s, 0) + d.dm // t.n_nodes)) // 100 AS r
    FROM nodes n LEFT JOIN i{i} i USING (node), d{i} d, totals t
)"""
        )
    parts.append(
        f"""
SELECT node,
       r::BIGINT AS rank_scaled,
       round(r / {_PR_SCALE}::DOUBLE, 9) AS rank
FROM r{n_iter}
ORDER BY rank_scaled DESC, node
LIMIT {_PR_TOP}"""
    )
    return "".join(parts)


QUERIES = {
    "type_hierarchy_ops": type_hierarchy_ops,
    "pagerank_power_iterations": pagerank_power_iterations,
    "supertype_closure": supertype_closure,
    "source_type_classification": source_type_classification,
    "breadcrumb_paths": breadcrumb_paths,
    "parent_type_lookup": parent_type_lookup,
}

ORACLES = {
    "type_hierarchy_ops": TYPE_HIERARCHY_OPS_SQL,
    "pagerank_power_iterations": _pagerank_power_sql(),
    "supertype_closure": SUPERTYPE_CLOSURE_SQL,
    "source_type_classification": SOURCE_TYPE_SQL,
    "breadcrumb_paths": BREADCRUMB_SQL,
    "parent_type_lookup": PARENT_TYPE_SQL,
}
