"""Doc-store graph-maintenance queries (SURVEY §2.5 G20/G21) run at data
scale over the testdata's natural containment hierarchy region ⊃ nation
⊃ customer — the stand-in for system ⊃ collection ⊃ dataset.
``_customer_docs`` materializes the breadcrumbs (G9) that
``rename_propagation`` here and the breadcrumb-prefix rows in
``doc_lifecycle`` start from.

Scale notes: breadcrumb materialization is two broadcast joins (nation
and region are tiny dims); rename propagation is a codegen'd
``zip_with`` — neither shuffles the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.docstore import rename_in_breadcrumbs
from ..sources import load_table


def _customer_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 define_breadcrumb at scale: every customer doc carries the
    ancestor path [region, nation] (guid/name/type index-aligned)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("guid"),
            F.col("c_name").alias("name"),
            F.array(
                F.concat(F.lit("R"), F.col("r_regionkey")),
                F.concat(F.lit("N"), F.col("n_nationkey")),
            ).alias("breadcrumbguid"),
            F.array(F.col("r_name"), F.col("n_name")).alias("breadcrumbname"),
            F.array(F.lit("region"), F.lit("nation")).alias("breadcrumbtype"),
        )
    )


def rename_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G20 update_name_in_breadcrumbs (synchronize_app_search.py:598-636)
    + G21 update_name_in_derived_entity_fields (:639-742): nation N3 is
    renamed; every doc whose breadcrumb contains N3 gets the new name at
    N3's position — position-matched via the guid array — and every doc
    whose derived (guid, name) pairs reference N3 gets the matching
    derived-name slot rewritten, untouched slots kept verbatim."""
    from ..operators.docstore import rename_in_derived_fields

    docs = _customer_docs(spark, sf_dir)
    # Derived vocabulary: each customer references its nation plus one
    # never-renamed guid, so the position-matched rewrite must change
    # exactly one slot of two.
    docs = docs.withColumn(
        "derivedentityguids",
        F.array(
            F.element_at("breadcrumbguid", -1),
            F.concat(F.lit("X"), F.col("guid")),
        ),
    ).withColumn(
        "derivedentitynames",
        F.array(F.element_at("breadcrumbname", -1), F.col("name")),
    )
    out = rename_in_breadcrumbs(docs, F.lit("N3"), F.lit("NATION_3_RENAMED"))
    out = rename_in_derived_fields(out, F.lit("N3"), F.lit("NATION_3_RENAMED"))
    return out.select(
        "guid",
        F.array_join("breadcrumbname", "|").alias("breadcrumbname"),
        F.array_join("derivedentitynames", "|").alias("derivedentitynames"),
    ).orderBy("guid")


RENAME_PROPAGATION_SQL = """
SELECT 'C' || c_custkey AS guid,
       r_name || '|' ||
       CASE WHEN n_nationkey = 3 THEN 'NATION_3_RENAMED' ELSE n_name END
       AS breadcrumbname,
       CASE WHEN n_nationkey = 3 THEN 'NATION_3_RENAMED' ELSE n_name END
       || '|' || c_name AS derivedentitynames
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
ORDER BY guid
"""


QUERIES = {
    "rename_propagation": rename_propagation,
}

ORACLES = {
    "rename_propagation": RENAME_PROPAGATION_SQL,
}
