"""Typed schemas for the Atlas-shaped data model (SURVEY §1, FIXTURES.md).

The reference is schema-on-read: every payload is an open JSON dict that
pandas ``json_normalize`` re-discovers per record
(determine_change_job.py:67-83). Here one fixed ``StructType`` envelope
covers every entity type:

- scalar header fields are typed columns;
- the open attribute set is ``map<string,string>`` with JSON-encoded
  values (canonical, key-order-stable encoding — SURVEY §7.5), so
  Catalyst map/array expressions diff it without Python;
- relationship attributes are ``map<string, array<REL_REF>>``.

``from_json(value, ...)`` with these schemas replaces the reference's
per-record ``X.from_json`` dataclass parsing (get_entity_job.py:36,
determine_change_job.py:241-252) with one plan-native parse.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# REL_REF — relationship target reference
# (test__synchronize_app_search.py:65-78)
REL_REF = StructType(
    [
        StructField("guid", StringType()),
        StructField("type_name", StringType()),
        StructField("entity_status", StringType()),
        StructField("display_text", StringType()),
        StructField("relationship_type", StringType()),
        StructField("relationship_guid", StringType()),
        StructField("relationship_status", StringType()),
        StructField("relationship_attributes", MapType(StringType(), StringType())),
        StructField("unique_attributes", MapType(StringType(), StringType())),
    ]
)

ATTRIBUTES = MapType(StringType(), StringType())
RELATIONSHIP_ATTRIBUTES = MapType(StringType(), ArrayType(REL_REF))

# Full Atlas entity snapshot (FIXTURES §2; Entity.from_json at
# publish_state_job.py:75, fixture test__synchronize_app_search.py:112-204)
ENTITY = StructType(
    [
        StructField("guid", StringType()),
        StructField("type_name", StringType()),
        StructField("qualified_name", StringType()),
        StructField("attributes", ATTRIBUTES),
        StructField("relationship_attributes", RELATIONSHIP_ATTRIBUTES),
        StructField("create_time", LongType()),
        StructField("update_time", LongType()),
        StructField("created_by", StringType()),
        StructField("updated_by", StringType()),
        StructField("status", StringType()),
        StructField("is_incomplete", BooleanType()),
        StructField("provenance_type", LongType()),
        StructField("version", LongType()),
        StructField("classifications", ArrayType(StringType())),
        StructField("labels", ArrayType(StringType())),
        StructField("meanings", ArrayType(StringType())),
        StructField("custom_attributes", StringType()),
        StructField("home_id", StringType()),
    ]
)

# Kafka audit notification (FIXTURES §1; publish_state_old.py:35,
# op-type domain get_entity_job.py:40)
ATLAS_CHANGE_MESSAGE = StructType(
    [
        StructField("msg_creation_time", LongType()),
        StructField("msg_source_ip", StringType()),
        StructField("msg_created_by", StringType()),
        StructField("msg_compression_kind", StringType()),
        StructField("msg_split_idx", LongType()),
        StructField("msg_split_count", LongType()),
        StructField("event_time", LongType()),
        StructField("operation_type", StringType()),
        StructField("notification_type", StringType()),
        StructField("entity_guid", StringType()),
        StructField("entity_type_name", StringType()),
        StructField("entity_header", StringType()),
    ]
)

# Enriched envelope (FIXTURES §3; get_entity_job.py:54,
# validated publish_state_job.py:56-69)
ENRICHED_ENTITY = StructType(
    [
        StructField("kafka_notification", ATLAS_CHANGE_MESSAGE),
        StructField("atlas_entity", ENTITY),
    ]
)

# Diff event (FIXTURES §5; AtlasEntityChangeMessage.py:12-30)
ENTITY_MESSAGE = StructType(
    [
        StructField("type_name", StringType()),
        StructField("qualified_name", StringType()),
        StructField("guid", StringType()),
        StructField("original_event_type", StringType()),
        StructField("event_type", StringType()),
        StructField("direct_change", BooleanType()),
        StructField("inserted_attributes", ArrayType(StringType())),
        StructField("changed_attributes", ArrayType(StringType())),
        StructField("deleted_attributes", ArrayType(StringType())),
        StructField("inserted_relationships", RELATIONSHIP_ATTRIBUTES),
        StructField("changed_relationships", RELATIONSHIP_ATTRIBUTES),
        StructField("deleted_relationships", RELATIONSHIP_ATTRIBUTES),
        StructField("old_value", ENTITY),
        StructField("new_value", ENTITY),
    ]
)

# Denormalized App Search document (FIXTURES §6; create_doc
# synchronize_app_search.py:565-592, fixture :207-221)
APP_SEARCH_DOC = StructType(
    [
        StructField("id", StringType()),
        StructField("guid", StringType()),
        StructField("referenceablequalifiedname", StringType()),
        StructField("typename", StringType()),
        StructField("sourcetype", StringType()),
        StructField("m4isourcetype", ArrayType(StringType())),
        StructField("supertypenames", ArrayType(StringType())),
        StructField("name", StringType()),
        StructField("definition", StringType()),
        StructField("email", StringType()),
        StructField("parentguid", StringType()),
        StructField("breadcrumbguid", ArrayType(StringType())),
        StructField("breadcrumbname", ArrayType(StringType())),
        StructField("breadcrumbtype", ArrayType(StringType())),
        StructField("deriveddataownerguid", StringType()),
        StructField("deriveddatastewardguid", StringType()),
        StructField("deriveddomainleadguid", StringType()),
        StructField("derivedpersonguid", ArrayType(StringType())),
        StructField("derivedentityguids", ArrayType(StringType())),
        StructField("derivedentitynames", ArrayType(StringType())),
        # attribute↔field linkage fields (G18/G19,
        # synchronize_app_search.py:154-197): set on link, NULLed on
        # unlink — the attribute doc carries derivedfield*, the field
        # doc carries deriveddataattribute*
        StructField("derivedfieldguid", ArrayType(StringType())),
        StructField("derivedfield", StringType()),
        StructField("deriveddataattributeguid", ArrayType(StringType())),
        StructField("deriveddataattribute", StringType()),
        StructField("dq_score_completeness", DoubleType()),
        StructField("dq_score_accuracy", DoubleType()),
        StructField("dq_score_timeliness", DoubleType()),
        StructField("dq_score_uniqueness", DoubleType()),
        StructField("dq_score_validity", DoubleType()),
        StructField("dq_score_overall", DoubleType()),
    ]
)

DQ_SCORE_FIELDS = tuple(
    f.name for f in APP_SEARCH_DOC.fields if f.name.startswith("dq_score")
)

# Whitelisted updatable attributes (update_attributes,
# synchronize_app_search.py:17)
UPDATE_ATTRIBUTES = ("definition", "email")

# Governance-role relationship keys (is_governance_role_relationship,
# synchronize_app_search.py:292-294)
GOVERNANCE_ROLE_KEYS = ("domainLead", "businessOwner", "dataSteward")
