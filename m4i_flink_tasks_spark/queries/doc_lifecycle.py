"""Doc-lifecycle queries (SURVEY §2.5 G5-G6, G10-G19, G22-G23 + §2.3 D9)
run at data scale: each drives ``operators.docstore`` kernels over
synthetic doc/update tables derived from the TPC-H-ish testdata, with a
plain-SQL DuckDB oracle. G24/G25 (attribute update/delete application)
run inside job 4's dispatcher, proven by the declared
``stream_synchronize_appsearch_docs`` row.

The reference applies all of these doc-at-a-time inside
``SynchronizeAppsearch.map`` (synchronize_app_search.py); here each is a
whole-batch DataFrame transform whose only wide operation — if any — is
the final keyed collapse. Dimension joins (parent docs, type closure)
are broadcast; nothing shuffles the fact-sized side except D9's
aggregate, which is the one shuffle the semantics require.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hierarchy import supertype_closure_df
from ..operators.docstore import (
    apply_attribute_field_linkage,
    apply_governance_role,
    classify_relationship,
    collapse_last_writer_wins,
    create_docs,
    delete_breadcrumb_prefix,
    descendants_of,
    extract_parent_guid,
    inherit_derived_fields,
    orient_parent_child,
    uninherit_derived_fields,
)
from ..sources import load_table
from .doc_maintenance import _customer_docs

# The containment map as SQL, for oracle parity with
# functions.hierarchy.HIERARCHY_MAPPING.
_H_CASE = """CASE {c}
    WHEN 'm4i_data_entity' THEN 'm4i_data_domain'
    WHEN 'm4i_data_attribute' THEN 'm4i_data_entity'
    WHEN 'm4i_collection' THEN 'm4i_system'
    WHEN 'm4i_dataset' THEN 'm4i_collection'
    WHEN 'm4i_field' THEN 'm4i_dataset'
END"""


# --------------------------------------------------------------------------
# G5/G6/G7/G8: relationship classification + parent/child orientation
# --------------------------------------------------------------------------

def relationship_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5-G8 (is_parent_child/attribute_field/governance classifiers,
    synchronize_app_search.py:117-143,292-294) and G6 orientation
    (:205-228) over a synthetic relationship table: one rel per customer
    with key/type combinations cycling through every dispatch branch."""
    ck = F.col("c_custkey")
    rels = load_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), ck).alias("self_guid"),
        F.concat(F.lit("T"), ck).alias("target_guid"),
        F.when(ck % 4 == 0, "parentNation")
        .when(ck % 4 == 1, "childAttributes")
        .when(ck % 4 == 2, "domainLead")
        .otherwise("seeAlso")
        .alias("rel_key"),
        F.when(ck % 3 == 0, "m4i_data_entity")
        .when(ck % 3 == 1, "m4i_data_attribute")
        .otherwise("m4i_field")
        .alias("self_type"),
        F.when(ck % 5 == 0, "m4i_data_domain")
        .when(ck % 5 == 1, "m4i_data_entity")
        .when(ck % 5 == 2, "m4i_field")
        .when(ck % 5 == 3, "m4i_data_attribute")
        .otherwise("m4i_dataset")
        .alias("target_type"),
    )
    cls = classify_relationship(
        F.col("rel_key"), F.col("self_type"), F.col("target_type")
    )
    ori = orient_parent_child(
        F.col("rel_key"),
        F.col("self_guid"),
        F.col("self_type"),
        F.col("target_guid"),
        F.col("target_type"),
    )
    return rels.select(
        "self_guid",
        "rel_key",
        "self_type",
        "target_type",
        cls.getField("parent_child").alias("is_parent_child"),
        cls.getField("attribute_field").alias("is_attribute_field"),
        cls.getField("governance_role").alias("is_governance_role"),
        ori.getField("parent_guid").alias("parent_guid"),
        ori.getField("child_guid").alias("child_guid"),
    ).orderBy("self_guid")


RELATIONSHIP_CLASSIFICATION_SQL = f"""
WITH rels AS (
    SELECT 'C' || c_custkey AS self_guid,
           'T' || c_custkey AS target_guid,
           CASE c_custkey % 4 WHEN 0 THEN 'parentNation'
                WHEN 1 THEN 'childAttributes'
                WHEN 2 THEN 'domainLead' ELSE 'seeAlso' END AS rel_key,
           CASE c_custkey % 3 WHEN 0 THEN 'm4i_data_entity'
                WHEN 1 THEN 'm4i_data_attribute'
                ELSE 'm4i_field' END AS self_type,
           CASE c_custkey % 5 WHEN 0 THEN 'm4i_data_domain'
                WHEN 1 THEN 'm4i_data_entity'
                WHEN 2 THEN 'm4i_field'
                WHEN 3 THEN 'm4i_data_attribute'
                ELSE 'm4i_dataset' END AS target_type
    FROM customer
), m AS (
    SELECT *,
           {_H_CASE.format(c='self_type')} AS h_self,
           {_H_CASE.format(c='target_type')} AS h_target,
           CASE WHEN rel_key LIKE 'parent%' THEN TRUE
                WHEN rel_key LIKE 'child%' THEN FALSE
                ELSE COALESCE({_H_CASE.format(c='self_type')} = target_type, FALSE)
           END AS self_is_child
    FROM rels
)
SELECT self_guid, rel_key, self_type, target_type,
       (rel_key LIKE 'child%' OR rel_key LIKE 'parent%'
        OR COALESCE(h_self = target_type, FALSE)
        OR COALESCE(h_target = self_type, FALSE)) AS is_parent_child,
       ((self_type = 'm4i_data_attribute' AND target_type = 'm4i_field')
        OR (self_type = 'm4i_field' AND target_type = 'm4i_data_attribute'))
           AS is_attribute_field,
       rel_key IN ('domainLead', 'businessOwner', 'dataSteward')
           AS is_governance_role,
       CASE WHEN self_is_child THEN target_guid ELSE self_guid END AS parent_guid,
       CASE WHEN self_is_child THEN self_guid ELSE target_guid END AS child_guid
FROM m
ORDER BY self_guid
"""


# --------------------------------------------------------------------------
# Q2 + G13: breadcrumb prefix delete over descendants
# --------------------------------------------------------------------------

def breadcrumb_prefix_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13 delete_prefix_from_breadcrumbs_of_child_entities
    (synchronize_app_search.py:247-260): region R2 is unlinked; every
    descendant's breadcrumb is cut at (and including — SURVEY §7.4
    deviation) the removed ancestor."""
    docs = _customer_docs(spark, sf_dir)
    out = delete_breadcrumb_prefix(descendants_of(docs, "R2"), F.lit("R2"))
    # Arrays serialized at the query boundary (driver canonicalizer hashes
    # scalars only); the kernel stays array-typed.
    return out.select(
        "guid",
        F.array_join("breadcrumbguid", "|").alias("breadcrumbguid"),
        F.array_join("breadcrumbname", "|").alias("breadcrumbname"),
        F.array_join("breadcrumbtype", "|").alias("breadcrumbtype"),
    ).orderBy("guid")


BREADCRUMB_PREFIX_DELETE_SQL = """
SELECT 'C' || c_custkey AS guid,
       'N' || n_nationkey AS breadcrumbguid,
       n_name AS breadcrumbname,
       'nation' AS breadcrumbtype
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey = 2
ORDER BY guid
"""


# --------------------------------------------------------------------------
# G15/G16: derived-field inherit / un-inherit fixtures
# --------------------------------------------------------------------------

def _derived_children(spark: SparkSession, sf_dir: str, *, equal_to_parent: bool):
    ck = F.col("c_custkey")
    nk = F.col("c_nationkey")
    if equal_to_parent:
        owner = F.when(ck % 3 == 0, F.concat(F.lit("NO"), nk)).otherwise(
            F.concat(F.lit("CO"), ck)
        )
        entity_guids = F.when(
            ck % 2 == 0, F.array(F.concat(F.lit("NE"), nk))
        ).otherwise(F.array(F.concat(F.lit("CE"), ck)))
        entity_names = F.when(
            ck % 2 == 0, F.array(F.concat(F.lit("NN"), nk))
        ).otherwise(F.array(F.col("c_name")))
        steward = F.concat(F.lit("NS"), nk)
    else:
        owner = F.when(ck % 2 == 0, F.concat(F.lit("CO"), ck))
        entity_guids = F.array(F.concat(F.lit("CE"), ck))
        entity_names = F.array(F.col("c_name"))
        steward = F.lit(None).cast("string")
    return load_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), ck).alias("guid"),
        F.concat(F.lit("N"), nk).alias("parentguid"),
        owner.alias("deriveddataownerguid"),
        steward.alias("deriveddatastewardguid"),
        F.concat(F.lit("CL"), ck).alias("deriveddomainleadguid"),
        entity_guids.alias("derivedentityguids"),
        entity_names.alias("derivedentitynames"),
    )


def _derived_parents(spark: SparkSession, sf_dir: str):
    nk = F.col("n_nationkey")
    return load_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("N"), nk).alias("guid"),
        F.when(nk % 2 == 0, F.concat(F.lit("NO"), nk)).alias(
            "deriveddataownerguid"
        ),
        F.concat(F.lit("NS"), nk).alias("deriveddatastewardguid"),
        F.lit(None).cast("string").alias("deriveddomainleadguid"),
        F.when(nk % 3 == 0, F.array(F.concat(F.lit("NE"), nk))).alias(
            "derivedentityguids"
        ),
        F.when(nk % 3 == 0, F.array(F.concat(F.lit("NN"), nk))).alias(
            "derivedentitynames"
        ),
    )


# --------------------------------------------------------------------------
# G17: governance-role derived fields
# --------------------------------------------------------------------------

def governance_role_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G17 update_governance_role_derived_entity_fields
    (synchronize_app_search.py:297-316): domainLead applies only on
    domains, owner/steward only on non-domains; every role adds the
    person to the sorted derivedpersonguid set."""
    ck = F.col("c_custkey")
    docs = load_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), ck).alias("guid"),
        F.when(ck % 2 == 0, "m4i_data_domain")
        .otherwise("m4i_data_entity")
        .alias("typename"),
        F.when(ck % 3 == 0, "domainLead")
        .when(ck % 3 == 1, "businessOwner")
        .otherwise("dataSteward")
        .alias("role_key"),
        F.lit(None).cast("string").alias("deriveddomainleadguid"),
        F.lit(None).cast("string").alias("deriveddataownerguid"),
        F.lit(None).cast("string").alias("deriveddatastewardguid"),
        F.array(F.lit("P0")).alias("derivedpersonguid"),
        F.concat(F.lit("P"), ck).alias("person_guid"),
    )
    out = apply_governance_role(docs, F.col("role_key"), F.col("person_guid"))
    return out.select(
        "guid",
        "role_key",
        "deriveddomainleadguid",
        "deriveddataownerguid",
        "deriveddatastewardguid",
        F.array_join("derivedpersonguid", "|").alias("derivedpersonguid"),
    ).orderBy("guid")


GOVERNANCE_ROLE_UPDATE_SQL = """
SELECT 'C' || c_custkey AS guid,
       CASE c_custkey % 3 WHEN 0 THEN 'domainLead'
            WHEN 1 THEN 'businessOwner' ELSE 'dataSteward' END AS role_key,
       CASE WHEN c_custkey % 2 = 0 AND c_custkey % 3 = 0
            THEN 'P' || c_custkey END AS deriveddomainleadguid,
       CASE WHEN c_custkey % 2 = 1 AND c_custkey % 3 = 1
            THEN 'P' || c_custkey END AS deriveddataownerguid,
       CASE WHEN c_custkey % 2 = 1 AND c_custkey % 3 = 2
            THEN 'P' || c_custkey END AS deriveddatastewardguid,
       array_to_string(list_sort(list_distinct(['P0', 'P' || c_custkey])), '|')
           AS derivedpersonguid
FROM customer
ORDER BY guid
"""


# --------------------------------------------------------------------------
# G22: parent-guid extraction from relationship attributes
# --------------------------------------------------------------------------

def parent_guid_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G22 get_parent_entity_guid (synchronize_app_search.py:749-764):
    parent-keyed relationships win; otherwise the relationship whose
    target type matches the containment map; otherwise NULL. The three
    customer cohorts exercise each branch."""
    ck = F.col("c_custkey")
    nk = F.col("c_nationkey")
    rel = lambda g, t: F.array(  # noqa: E731
        F.struct(g.alias("guid"), t.alias("type_name"))
    )
    parent_rel = rel(F.concat(F.lit("N"), nk), F.lit("m4i_collection"))
    typed_rel = rel(F.concat(F.lit("N"), nk), F.lit("m4i_data_domain"))
    decoy_rel = rel(F.concat(F.lit("X"), ck), F.lit("m4i_field"))
    relationships = (
        F.when(
            ck % 3 == 0,
            F.create_map(
                F.lit("parentDomain"), parent_rel, F.lit("related"), decoy_rel
            ),
        )
        .when(ck % 3 == 1, F.create_map(F.lit("related"), typed_rel))
        .otherwise(F.create_map(F.lit("related"), decoy_rel))
    )
    docs = load_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), ck).alias("guid"),
        relationships.alias("relationships"),
    )
    return docs.select(
        "guid",
        extract_parent_guid(
            F.col("relationships"), F.lit("m4i_data_entity")
        ).alias("parent_guid"),
    ).orderBy("guid")


PARENT_GUID_EXTRACTION_SQL = """
SELECT 'C' || c_custkey AS guid,
       CASE WHEN c_custkey % 3 = 2 THEN NULL
            ELSE 'N' || c_nationkey END AS parent_guid
FROM customer
ORDER BY guid
"""


# --------------------------------------------------------------------------
# G23: doc creation from EntityCreated messages
# --------------------------------------------------------------------------

def doc_creation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G23 create_doc (synchronize_app_search.py:565-592): one new doc
    per EntityCreated message — supertype closure (broadcast G1), source
    type (G2), m4i base types (G3), whitelisted attributes, dq_score
    zero-fill. Type names cycle over both hierarchies so every
    classification branch is hit at volume."""
    ck = F.col("c_custkey")
    attrs = F.create_map(
        F.lit("name"), F.col("c_name"), F.lit("definition"), F.col("c_mktsegment")
    )
    attrs_with_email = F.map_concat(
        attrs, F.create_map(F.lit("email"), F.concat(F.lit("e"), ck))
    )
    messages = load_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), ck).alias("guid"),
        F.when(ck % 4 == 0, "m4i_data_attribute")
        .when(ck % 4 == 1, "m4i_field")
        .when(ck % 4 == 2, "m4i_data_domain")
        .otherwise("m4i_system")
        .alias("type_name"),
        F.concat(F.lit("q.c"), ck).alias("qualified_name"),
        F.struct(
            F.when(ck % 2 == 0, attrs_with_email)
            .otherwise(attrs)
            .alias("attributes"),
            F.lit(None)
            .cast("map<string,array<struct<guid:string,type_name:string>>>")
            .alias("relationship_attributes"),
        ).alias("new_value"),
    )
    docs = create_docs(messages, supertype_closure_df(spark))
    return docs.select(
        "guid",
        "typename",
        "sourcetype",
        F.array_join("m4isourcetype", "|").alias("m4isourcetype"),
        F.array_join("supertypenames", "|").alias("supertypenames"),
        "name",
        "definition",
        "email",
        "parentguid",
        "dq_score_overall",
    ).orderBy("guid")


DOC_CREATION_SQL = """
WITH msg AS (
    SELECT c_custkey, c_name, c_mktsegment,
           CASE c_custkey % 4 WHEN 0 THEN 'm4i_data_attribute'
                WHEN 1 THEN 'm4i_field'
                WHEN 2 THEN 'm4i_data_domain'
                ELSE 'm4i_system' END AS typename
    FROM customer
)
SELECT 'C' || c_custkey AS guid,
       typename,
       CASE WHEN typename IN ('m4i_data_attribute', 'm4i_data_domain')
            THEN 'Business' ELSE 'Technical' END AS sourcetype,
       typename AS m4isourcetype,
       CASE typename
            WHEN 'm4i_system'
            THEN 'Referenceable|m4i_referenceable|m4i_system'
            ELSE 'Referenceable|' || typename || '|m4i_referenceable'
       END AS supertypenames,
       c_name AS name,
       c_mktsegment AS definition,
       CASE WHEN c_custkey % 2 = 0 THEN 'e' || c_custkey END AS email,
       NULL AS parentguid,
       CAST(0.0 AS DOUBLE) AS dq_score_overall
FROM msg
ORDER BY guid
"""


# --------------------------------------------------------------------------
# G18/G19: attribute <-> field derived linkage
# --------------------------------------------------------------------------

def attribute_field_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G18/G19 define/delete_derived_entity_attribute_field_fields
    (synchronize_app_search.py:154-197): one attribute doc and one field
    doc per customer; every ck%3==0 pair links (both sides gain the
    counterpart guid+name), ck%3==1 unlinks (both sides nulled), ck%3==2
    is untouched and keeps its pre-existing values."""
    customer = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    attr_docs = customer.select(
        F.concat(F.lit("A"), ck).alias("guid"),
        F.col("c_name").alias("name"),
        F.when(ck % 3 != 0, F.array(F.lit("OLD"))).alias("derivedfieldguid"),
        F.when(ck % 3 != 0, F.concat(F.lit("old_a"), ck)).alias("derivedfield"),
        F.lit(None).cast("array<string>").alias("deriveddataattributeguid"),
        F.lit(None).cast("string").alias("deriveddataattribute"),
    )
    field_docs = customer.select(
        F.concat(F.lit("F"), ck).alias("guid"),
        F.concat(F.lit("f_"), F.col("c_name")).alias("name"),
        F.lit(None).cast("array<string>").alias("derivedfieldguid"),
        F.lit(None).cast("string").alias("derivedfield"),
        F.when(ck % 3 != 0, F.array(F.lit("OLD"))).alias("deriveddataattributeguid"),
        F.when(ck % 3 != 0, F.concat(F.lit("old_f"), ck)).alias("deriveddataattribute"),
    )
    docs = attr_docs.unionByName(field_docs)
    pairs = customer.filter(ck % 3 < 2).select(
        F.concat(F.lit("A"), ck).alias("attribute_guid"),
        F.concat(F.lit("F"), ck).alias("field_guid"),
        (ck % 3 == 0).alias("linked"),
    )
    out = apply_attribute_field_linkage(docs, pairs)
    # NULL arrays stay NULL through array_join; linked/kept single-element
    # arrays serialize to their sole element.
    return out.select(
        "guid",
        F.array_join("derivedfieldguid", "|").alias("derivedfieldguid"),
        "derivedfield",
        F.array_join("deriveddataattributeguid", "|").alias(
            "deriveddataattributeguid"
        ),
        "deriveddataattribute",
    ).orderBy("guid")


ATTRIBUTE_FIELD_LINKAGE_SQL = """
WITH c AS (SELECT c_custkey AS ck, c_name FROM customer)
SELECT 'A' || ck AS guid,
       CASE WHEN ck % 3 = 0 THEN 'F' || ck
            WHEN ck % 3 = 2 THEN 'OLD' END AS derivedfieldguid,
       CASE WHEN ck % 3 = 0 THEN 'f_' || c_name
            WHEN ck % 3 = 2 THEN 'old_a' || ck END AS derivedfield,
       CAST(NULL AS VARCHAR) AS deriveddataattributeguid,
       CAST(NULL AS VARCHAR) AS deriveddataattribute
FROM c
UNION ALL
SELECT 'F' || ck,
       CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR),
       CASE WHEN ck % 3 = 0 THEN 'A' || ck
            WHEN ck % 3 = 2 THEN 'OLD' END,
       CASE WHEN ck % 3 = 0 THEN c_name
            WHEN ck % 3 = 2 THEN 'old_f' || ck END
FROM c
ORDER BY guid
"""


# --------------------------------------------------------------------------
# D9: last-writer-wins collapse
# --------------------------------------------------------------------------

def doc_update_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 (synchronize_app_search.py:335,396,462,524,561): repeated
    updates to one doc collapse to the last writer — the dict-overwrite
    order made explicit as max_by over the order column. One shuffle on
    the doc key; map-side partial aggregation keeps it narrow."""
    updates = load_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("guid"),
        F.col("o_orderpriority").alias("name"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderkey"),
    )
    out = collapse_last_writer_wins(updates, "o_orderkey")
    return out.select("guid", "name", "status").orderBy("guid")


DOC_UPDATE_COLLAPSE_SQL = """
SELECT 'C' || o_custkey AS guid,
       arg_max(o_orderpriority, o_orderkey) AS name,
       arg_max(o_orderstatus, o_orderkey) AS status
FROM orders
GROUP BY o_custkey
ORDER BY guid
"""


def breadcrumb_prefix_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12+G13+G10+G11 in one proof row, tagged by ``mode``:

    - ``insert``: descendants of nation N7 get a new root ancestor
      prepended (insert_prefix_to_breadcrumbs_of_child_entities,
      synchronize_app_search.py:231-244)
    - ``delete``: descendants of region R2 have their breadcrumb cut at
      and including the removed ancestor
      (delete_prefix_from_breadcrumbs_of_child_entities, :247-260)
    - ``clear``: descendants of nation N12 lose their parent link —
      parentguid -> NULL (G10 delete_parent_guid,
      synchronize_app_search.py:319-322) and all three breadcrumb
      arrays -> [] (G11 delete_breadcrumb, :325-331)

    ``parentguid`` (the last breadcrumb entry) rides along in every
    mode so the G10 unset is visible next to the untouched modes.
    Array columns serialized with array_join at the query boundary."""
    from ..operators.docstore import clear_breadcrumb, insert_breadcrumb_prefix
    from .doc_maintenance import _customer_docs

    docs = _customer_docs(spark, sf_dir).withColumn(
        "parentguid", F.element_at("breadcrumbguid", -1)
    )
    inserted = insert_breadcrumb_prefix(
        descendants_of(docs, "N7"), F.lit("ROOT"), F.lit("Root"), F.lit("m4i_system")
    ).withColumn("mode", F.lit("insert"))
    deleted = delete_breadcrumb_prefix(
        descendants_of(docs, "R2"), F.lit("R2")
    ).withColumn("mode", F.lit("delete"))
    cleared = clear_breadcrumb(descendants_of(docs, "N12")).withColumn(
        "mode", F.lit("clear")
    )
    both = inserted.unionByName(deleted, allowMissingColumns=True).unionByName(
        cleared, allowMissingColumns=True
    )
    return both.select(
        "mode",
        "guid",
        "parentguid",
        F.array_join("breadcrumbguid", "|").alias("breadcrumbguid"),
        F.array_join("breadcrumbname", "|").alias("breadcrumbname"),
        F.array_join("breadcrumbtype", "|").alias("breadcrumbtype"),
    ).orderBy("mode", "guid")


BREADCRUMB_PREFIX_OPS_SQL = """
SELECT 'insert' AS mode,
       'C' || c_custkey AS guid,
       'N' || n_nationkey AS parentguid,
       'ROOT|R' || r_regionkey || '|' || 'N' || n_nationkey AS breadcrumbguid,
       'Root|' || r_name || '|' || n_name AS breadcrumbname,
       'm4i_system|region|nation' AS breadcrumbtype
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE n_nationkey = 7
UNION ALL
SELECT 'delete' AS mode,
       'C' || c_custkey AS guid,
       'N' || n_nationkey AS parentguid,
       'N' || n_nationkey AS breadcrumbguid,
       n_name AS breadcrumbname,
       'nation' AS breadcrumbtype
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey = 2
UNION ALL
SELECT 'clear' AS mode,
       'C' || c_custkey AS guid,
       NULL AS parentguid,
       '' AS breadcrumbguid,
       '' AS breadcrumbname,
       '' AS breadcrumbtype
FROM customer
WHERE c_nationkey = 12
ORDER BY mode, guid
"""


def derived_field_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G15+G16+G14 in one proof row, tagged by ``mode``: ``inherit`` =
    parent non-null derived fields overwrite the child on a new parent
    link (update_derived_entiies, synchronize_app_search.py:284-289);
    ``uninherit`` = child fields equal to the parent's reset on link
    delete (delete_derived_entities, :273-281); ``propagate`` = EVERY
    derived field of the changed ancestor copied onto its descendants
    unconditionally — NULL sources overwrite too
    (update_derived_entity_fields_of_child_entities, :263-270), which
    is exactly how it differs from inherit (compare the two modes'
    deriveddomainleadguid: inherit keeps the child's, propagate nulls
    it)."""
    from ..operators.docstore import propagate_derived_fields

    parents = _derived_parents(spark, sf_dir)
    inherited = inherit_derived_fields(
        _derived_children(spark, sf_dir, equal_to_parent=False), parents
    ).withColumn("mode", F.lit("inherit"))
    uninherited = uninherit_derived_fields(
        _derived_children(spark, sf_dir, equal_to_parent=True), parents
    ).withColumn("mode", F.lit("uninherit"))
    propagated = propagate_derived_fields(
        _derived_children(spark, sf_dir, equal_to_parent=False).withColumn(
            "ancestorguid", F.col("parentguid")
        ),
        parents,
    ).withColumn("mode", F.lit("propagate"))
    both = inherited.unionByName(uninherited).unionByName(
        propagated.drop("ancestorguid")
    )
    return both.select(
        "mode",
        "guid",
        "deriveddataownerguid",
        "deriveddatastewardguid",
        "deriveddomainleadguid",
        F.array_join("derivedentityguids", "|").alias("derivedentityguids"),
        F.array_join("derivedentitynames", "|").alias("derivedentitynames"),
    ).orderBy("mode", "guid")


DERIVED_FIELD_LIFECYCLE_SQL = """
SELECT 'inherit' AS mode,
       'C' || c_custkey AS guid,
       CASE WHEN c_nationkey % 2 = 0 THEN 'NO' || c_nationkey
            WHEN c_custkey % 2 = 0 THEN 'CO' || c_custkey END
           AS deriveddataownerguid,
       'NS' || c_nationkey AS deriveddatastewardguid,
       'CL' || c_custkey AS deriveddomainleadguid,
       CASE WHEN c_nationkey % 3 = 0 THEN 'NE' || c_nationkey
            ELSE 'CE' || c_custkey END AS derivedentityguids,
       CASE WHEN c_nationkey % 3 = 0 THEN 'NN' || c_nationkey
            ELSE c_name END AS derivedentitynames
FROM customer
UNION ALL
SELECT 'uninherit' AS mode,
       'C' || c_custkey AS guid,
       CASE WHEN c_custkey % 3 = 0 AND c_nationkey % 2 = 0 THEN NULL
            WHEN c_custkey % 3 = 0 THEN 'NO' || c_nationkey
            ELSE 'CO' || c_custkey END AS deriveddataownerguid,
       NULL AS deriveddatastewardguid,
       'CL' || c_custkey AS deriveddomainleadguid,
       CASE WHEN c_custkey % 2 = 0 AND c_nationkey % 3 = 0
            THEN ''
            WHEN c_custkey % 2 = 0 THEN 'NE' || c_nationkey
            ELSE 'CE' || c_custkey END AS derivedentityguids,
       CASE WHEN c_custkey % 2 = 0 AND c_nationkey % 3 = 0
            THEN ''
            WHEN c_custkey % 2 = 0 THEN 'NN' || c_nationkey
            ELSE c_name END AS derivedentitynames
FROM customer
UNION ALL
SELECT 'propagate' AS mode,
       'C' || c_custkey AS guid,
       CASE WHEN c_nationkey % 2 = 0 THEN 'NO' || c_nationkey END
           AS deriveddataownerguid,
       'NS' || c_nationkey AS deriveddatastewardguid,
       NULL AS deriveddomainleadguid,
       CASE WHEN c_nationkey % 3 = 0 THEN 'NE' || c_nationkey END
           AS derivedentityguids,
       CASE WHEN c_nationkey % 3 = 0 THEN 'NN' || c_nationkey END
           AS derivedentitynames
FROM customer
ORDER BY mode, guid
"""


QUERIES = {
    "breadcrumb_prefix_ops": breadcrumb_prefix_ops,
    "derived_field_lifecycle": derived_field_lifecycle,
    "relationship_classification": relationship_classification,
    "breadcrumb_prefix_delete": breadcrumb_prefix_delete,
    "governance_role_update": governance_role_update,
    "parent_guid_extraction": parent_guid_extraction,
    "doc_creation": doc_creation,
    "attribute_field_linkage": attribute_field_linkage,
    "doc_update_collapse": doc_update_collapse,
}

ORACLES = {
    "breadcrumb_prefix_ops": BREADCRUMB_PREFIX_OPS_SQL,
    "derived_field_lifecycle": DERIVED_FIELD_LIFECYCLE_SQL,
    "relationship_classification": RELATIONSHIP_CLASSIFICATION_SQL,
    "breadcrumb_prefix_delete": BREADCRUMB_PREFIX_DELETE_SQL,
    "governance_role_update": GOVERNANCE_ROLE_UPDATE_SQL,
    "parent_guid_extraction": PARENT_GUID_EXTRACTION_SQL,
    "doc_creation": DOC_CREATION_SQL,
    "attribute_field_linkage": ATTRIBUTE_FIELD_LINKAGE_SQL,
    "doc_update_collapse": DOC_UPDATE_COLLAPSE_SQL,
}
