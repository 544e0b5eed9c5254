"""Golden tests for the App Search doc-maintenance kernels (SURVEY §2.5).

Hermetic re-creation of the reference's commented-out golden tests
(test__synchronize_app_search.py:31-224: a create event must touch the
new doc plus exactly its 3 descendants → 4 updated docs) plus unit
coverage of each G-kernel, including the deliberate bug-fix deviations
documented in SURVEY §7.4.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from m4i_flink_tasks_spark.functions.hierarchy import supertype_closure_df
from m4i_flink_tasks_spark.operators.docstore import (
    apply_attribute_updates,
    apply_governance_role,
    classify_relationship,
    clear_breadcrumb,
    collapse_last_writer_wins,
    create_docs,
    define_breadcrumb,
    delete_breadcrumb_prefix,
    descendants_of,
    inherit_derived_fields,
    insert_breadcrumb_prefix,
    orient_parent_child,
    remove_governance_role,
    rename_in_breadcrumbs,
    rename_in_derived_fields,
    uninherit_derived_fields,
)
from m4i_flink_tasks_spark.schemas import APP_SEARCH_DOC, DQ_SCORE_FIELDS

_DOC_DEFAULTS = {
    "m4isourcetype": [],
    "supertypenames": [],
    "breadcrumbguid": [],
    "breadcrumbname": [],
    "breadcrumbtype": [],
    "derivedpersonguid": [],
    "derivedentityguids": [],
    "derivedentitynames": [],
    **{c: 0.0 for c in DQ_SCORE_FIELDS},
}


def make_docs(spark, *rows: dict):
    full = []
    for row in rows:
        d = dict(_DOC_DEFAULTS)
        d.update(row)
        d.setdefault("id", d.get("guid"))
        full.append(tuple(d.get(f.name) for f in APP_SEARCH_DOC.fields))
    # localCheckpoint: synchronize_batch references its doc snapshot
    # ~20x across branches; without the lineage cut each test pays
    # Catalyst planning over the full expression frame per reference
    # (the same 57k-line plan blowup the cascade query had — measured
    # 14-120 s per test in pure planning).
    return spark.createDataFrame(full, APP_SEARCH_DOC).localCheckpoint()


# -- G5-G8 classification ---------------------------------------------------

@pytest.mark.parametrize(
    "key,self_t,target_t,expected",
    [
        ("childEntities", "m4i_data_domain", "m4i_data_entity", "parent_child"),
        ("parentDomain", "m4i_data_entity", "m4i_data_domain", "parent_child"),
        # no key prefix, but the type pair matches the containment map
        ("relatedTo", "m4i_field", "m4i_dataset", "parent_child"),
        ("fields", "m4i_data_attribute", "m4i_field", "attribute_field"),
        ("attributes", "m4i_field", "m4i_data_attribute", "attribute_field"),
        ("domainLead", "m4i_data_domain", "m4i_person", "governance_role"),
        ("dataSteward", "m4i_data_entity", "m4i_person", "governance_role"),
        ("meanings", "m4i_system", "m4i_system", None),
    ],
)
def test_classify_relationship(spark, key, self_t, target_t, expected):
    df = spark.createDataFrame(
        [(key, self_t, target_t)], "k string, st string, tt string"
    ).select(
        classify_relationship(F.col("k"), F.col("st"), F.col("tt")).alias("c")
    )
    row = df.select("c.*").collect()[0].asDict()
    for kind, val in row.items():
        assert val == (kind == expected), (kind, row)


def test_orient_parent_child_by_key_and_hierarchy(spark):
    df = spark.createDataFrame(
        [
            ("parentDomain", "e1", "m4i_data_entity", "d1", "m4i_data_domain"),
            ("childEntities", "d1", "m4i_data_domain", "e1", "m4i_data_entity"),
            # no prefix: orientation follows the containment map
            ("relatedTo", "f1", "m4i_field", "ds1", "m4i_dataset"),
            ("relatedTo", "ds1", "m4i_dataset", "f1", "m4i_field"),
        ],
        "k string, sg string, st string, tg string, tt string",
    ).select(
        orient_parent_child(
            F.col("k"), F.col("sg"), F.col("st"), F.col("tg"), F.col("tt")
        ).alias("o")
    )
    got = [(r.o.parent_guid, r.o.child_guid) for r in df.collect()]
    assert got == [("d1", "e1"), ("d1", "e1"), ("ds1", "f1"), ("ds1", "f1")]


# -- G9-G13 breadcrumbs -----------------------------------------------------

def test_define_breadcrumb_extends_parent_path(spark):
    parents = make_docs(
        spark,
        dict(
            guid="d1",
            typename="m4i_data_domain",
            name="Domain",
            breadcrumbguid=[],
            breadcrumbname=[],
            breadcrumbtype=[],
        ),
        dict(
            guid="e1",
            typename="m4i_data_entity",
            name="Entity",
            breadcrumbguid=["d1"],
            breadcrumbname=["Domain"],
            breadcrumbtype=["m4i_data_domain"],
        ),
    )
    child = make_docs(
        spark, dict(guid="a1", typename="m4i_data_attribute", parentguid="e1")
    )
    out = define_breadcrumb(child, parents).collect()[0]
    assert out.breadcrumbguid == ["d1", "e1"]
    assert out.breadcrumbname == ["Domain", "Entity"]
    assert out.breadcrumbtype == ["m4i_data_domain", "m4i_data_entity"]


def test_insert_prefix_touches_exactly_descendants(spark):
    # The reference golden expectation: a new ancestor above d1 updates
    # exactly the 3 docs whose breadcrumb contains d1, not the bystander
    # (test__synchronize_app_search.py:224 — len(updated_docs) == 4 with
    # the new doc itself).
    docs = make_docs(
        spark,
        dict(guid="e1", typename="t", breadcrumbguid=["d1"],
             breadcrumbname=["D"], breadcrumbtype=["td"]),
        dict(guid="a1", typename="t", breadcrumbguid=["d1", "e1"],
             breadcrumbname=["D", "E"], breadcrumbtype=["td", "te"]),
        dict(guid="a2", typename="t", breadcrumbguid=["d1", "e1"],
             breadcrumbname=["D", "E"], breadcrumbtype=["td", "te"]),
        dict(guid="x9", typename="t", breadcrumbguid=["other"],
             breadcrumbname=["O"], breadcrumbtype=["to"]),
    )
    desc = descendants_of(docs, "d1")
    assert desc.count() == 3
    out = insert_breadcrumb_prefix(
        desc, F.lit("root1"), F.lit("Root"), F.lit("m4i_system")
    )
    rows = {r.guid: r for r in out.collect()}
    assert rows["e1"].breadcrumbguid == ["root1", "d1"]
    assert rows["a1"].breadcrumbname == ["Root", "D", "E"]
    # idempotent: already-present ancestor is not re-prepended
    again = insert_breadcrumb_prefix(
        out, F.lit("root1"), F.lit("Root"), F.lit("m4i_system")
    ).collect()
    assert all(r.breadcrumbguid.count("root1") == 1 for r in again)
    # ... and the name/type arrays, which test presence on the input
    # breadcrumbguid, are left alone as well
    assert {r.guid: (r.breadcrumbname, r.breadcrumbtype) for r in again} == {
        r.guid: (r.breadcrumbname, r.breadcrumbtype) for r in rows.values()
    }


def test_delete_prefix_drops_ancestor_and_everything_before(spark):
    docs = make_docs(
        spark,
        dict(guid="f1", typename="t",
             breadcrumbguid=["s1", "c1", "ds1"],
             breadcrumbname=["Sys", "Coll", "DSet"],
             breadcrumbtype=["ts", "tc", "td"]),
    )
    out = delete_breadcrumb_prefix(docs, F.lit("c1")).collect()[0]
    # SURVEY §7.4 deviation: the removed ancestor itself goes too.
    assert out.breadcrumbguid == ["ds1"]
    assert out.breadcrumbname == ["DSet"]
    assert out.breadcrumbtype == ["td"]
    # absent guid -> unchanged
    untouched = delete_breadcrumb_prefix(docs, F.lit("zz")).collect()[0]
    assert untouched.breadcrumbguid == ["s1", "c1", "ds1"]


def test_clear_breadcrumb(spark):
    docs = make_docs(
        spark,
        dict(guid="e1", typename="t", parentguid="d1",
             breadcrumbguid=["d1"], breadcrumbname=["D"], breadcrumbtype=["td"]),
    )
    out = clear_breadcrumb(docs).collect()[0]
    assert out.parentguid is None
    assert out.breadcrumbguid == [] and out.breadcrumbname == []


# -- G14-G19 derived fields -------------------------------------------------

def test_inherit_and_uninherit_derived_fields(spark):
    parents = make_docs(
        spark,
        dict(guid="d1", typename="m4i_data_domain",
             deriveddomainleadguid="p9",
             derivedentityguids=["e0"], derivedentitynames=["E0"]),
    )
    child = make_docs(spark, dict(guid="e1", typename="t", parentguid="d1"))
    inherited = inherit_derived_fields(child, parents)
    row = inherited.collect()[0]
    assert row.deriveddomainleadguid == "p9"
    assert row.derivedentityguids == ["e0"]

    back = uninherit_derived_fields(inherited, parents).collect()[0]
    assert back.deriveddomainleadguid is None
    assert back.derivedentityguids == []


def test_apply_governance_role_dispatch(spark):
    docs = make_docs(
        spark,
        dict(guid="d1", typename="m4i_data_domain"),
        dict(guid="e1", typename="m4i_data_entity"),
    )
    led = apply_governance_role(docs, F.lit("domainLead"), F.lit("p1"))
    rows = {r.guid: r for r in led.collect()}
    assert rows["d1"].deriveddomainleadguid == "p1"
    assert rows["e1"].deriveddomainleadguid is None  # entity: not a domain role
    assert rows["d1"].derivedpersonguid == ["p1"]

    owned = apply_governance_role(docs, F.lit("businessOwner"), F.lit("p2"))
    rows = {r.guid: r for r in owned.collect()}
    assert rows["e1"].deriveddataownerguid == "p2"
    assert rows["d1"].deriveddataownerguid is None


def test_remove_governance_role_keeps_a_person_another_role_names(spark):
    # p1 is owner and steward: removing one role must keep p1 in
    # derivedpersonguid, which reads the roles as cleared by this call.
    docs = make_docs(
        spark,
        dict(guid="e1", typename="m4i_data_entity",
             deriveddataownerguid="p1", deriveddatastewardguid="p1",
             derivedpersonguid=["p1"]),
    )

    def remove(frame, role, person):
        out = remove_governance_role(frame, F.lit(role), F.lit(person))
        row = out.collect()[0]
        return out, (
            row.deriveddataownerguid, row.deriveddatastewardguid,
            row.derivedpersonguid,
        )

    owner_gone, got = remove(docs, "businessOwner", "p1")
    assert got == (None, "p1", ["p1"])
    _, got = remove(owner_gone, "dataSteward", "p1")
    assert got == (None, None, [])
    # a person the role does not name: nothing changes
    _, got = remove(docs, "businessOwner", "p2")
    assert got == ("p1", "p1", ["p1"])


# -- G20-G21 rename propagation --------------------------------------------

def test_rename_in_breadcrumbs_is_position_matched(spark):
    # Two ancestors share the display name "Dup" — only the renamed guid's
    # slot may change (the reference's name-equality match would hit both).
    docs = make_docs(
        spark,
        dict(guid="x1", typename="t",
             breadcrumbguid=["a", "b"], breadcrumbname=["Dup", "Dup"],
             breadcrumbtype=["ta", "tb"]),
        dict(guid="x2", typename="t",
             breadcrumbguid=["c"], breadcrumbname=["Other"],
             breadcrumbtype=["tc"]),
    )
    out = rename_in_breadcrumbs(docs, F.lit("b"), F.lit("NewName"))
    rows = {r.guid: r for r in out.collect()}
    assert rows["x1"].breadcrumbname == ["Dup", "NewName"]
    assert rows["x2"].breadcrumbname == ["Other"]


def test_rename_in_derived_fields(spark):
    docs = make_docs(
        spark,
        dict(guid="x1", typename="t",
             derivedentityguids=["e1", "e2"],
             derivedentitynames=["One", "Two"]),
    )
    out = rename_in_derived_fields(docs, F.lit("e2"), F.lit("Two!")).collect()[0]
    assert out.derivedentitynames == ["One", "Two!"]
    assert out.derivedentityguids == ["e1", "e2"]


# -- G22-G25 creation / attributes -----------------------------------------

def _entity_message(spark, guid, type_name, attributes, relationships=None):
    from m4i_flink_tasks_spark.schemas import ENTITY_MESSAGE

    rels = relationships or {}
    entity = (
        guid, type_name, f"qn://{guid}", attributes, rels,
        1000, 2000, "u", "u", "ACTIVE", False, 0, 1, [], [], [], None, None,
    )
    row = (
        type_name, f"qn://{guid}", guid, "ENTITY_CREATE", "EntityCreated",
        True, sorted(attributes), [], [], {}, {}, {}, None, entity,
    )
    return spark.createDataFrame([row], ENTITY_MESSAGE)


def _rel_ref(guid, type_name):
    return (guid, type_name, "ACTIVE", guid, None, f"r_{guid}", "ACTIVE", {}, {})


def test_create_docs_golden(spark):
    closure = supertype_closure_df(spark)
    msg = _entity_message(
        spark,
        "f1",
        "m4i_kafka_field",
        {"name": "MyField", "definition": "a field"},
        {"parentDataset": [_rel_ref("ds1", "m4i_dataset")]},
    )
    doc = create_docs(msg, closure).collect()[0]
    assert doc.id == doc.guid == "f1"
    assert doc.typename == "m4i_kafka_field"
    # get_super_types(m4i_kafka_field) returns 4 entries including the
    # leaf def itself (the reference's one live test,
    # test__synchronize_app_search.py:22-29); here the leaf appears ONCE
    # (the reference appended it twice, :575-576).
    assert len(doc.supertypenames) == 4
    assert doc.supertypenames.count("m4i_kafka_field") == 1
    assert doc.sourcetype == "Technical"
    assert doc.m4isourcetype == ["m4i_field"]
    assert doc.name == "MyField" and doc.definition == "a field"
    assert doc.parentguid == "ds1"
    for c in DQ_SCORE_FIELDS:
        assert getattr(doc, c) == 0.0


def test_create_docs_business_classification(spark):
    closure = supertype_closure_df(spark)
    msg = _entity_message(spark, "d1", "m4i_data_domain", {"name": "Dom"})
    doc = create_docs(msg, closure).collect()[0]
    assert doc.sourcetype == "Business"
    assert doc.m4isourcetype == ["m4i_data_domain"]
    assert doc.parentguid is None


def test_parent_guid_falls_back_to_hierarchy_type(spark):
    closure = supertype_closure_df(spark)
    # no parent*-keyed relationship; the m4i_dataset target matches
    # hierarchy_mapping[m4i_field] -> m4i_dataset
    msg = _entity_message(
        spark,
        "f2",
        "m4i_field",
        {"name": "F2"},
        {"sources": [_rel_ref("ds9", "m4i_dataset")]},
    )
    assert create_docs(msg, closure).collect()[0].parentguid == "ds9"


def test_apply_attribute_updates_and_name_delete_fallback(spark):
    docs = make_docs(
        spark,
        dict(guid="e1", typename="t", name="Old",
             referenceablequalifiedname="qn://e1", definition="old def"),
        dict(guid="e2", typename="t", name="Keep",
             referenceablequalifiedname="qn://e2"),
    )
    updates = spark.createDataFrame(
        [("e1", None, "new def", None, True)],
        "guid string, name string, definition string, email string, name_deleted boolean",
    )
    rows = {r.guid: r for r in apply_attribute_updates(docs, updates).collect()}
    # name deleted -> falls back to qualified name (G25, :553)
    assert rows["e1"].name == "qn://e1"
    assert rows["e1"].definition == "new def"
    assert rows["e2"].name == "Keep"


def test_collapse_last_writer_wins(spark):
    updated = spark.createDataFrame(
        [("g1", "v1", 1), ("g1", "v2", 2), ("g2", "w1", 1)],
        "guid string, name string, seq int",
    )
    rows = {r.guid: r.name for r in
            collapse_last_writer_wins(updated, "seq").collect()}
    assert rows == {"g1": "v2", "g2": "w1"}
