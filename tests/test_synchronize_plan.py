"""End-to-end test of the G26-G28 micro-batch dispatcher — the hermetic
version of the reference's commented-out golden tests
(test__synchronize_app_search.py:31-224, :227-420): one batch of mixed
EntityMessages against a seeded doc store must produce exactly the
expected doc upserts and deletes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from m4i_flink_tasks_spark.functions.hierarchy import supertype_closure_df
from m4i_flink_tasks_spark.plans import synchronize_batch
from m4i_flink_tasks_spark.plans.synchronize_plan import apply_batch
from m4i_flink_tasks_spark.schemas import ENTITY_MESSAGE
from m4i_flink_tasks_spark.streaming.store import BucketedParquetUpsertStore
from m4i_flink_tasks_spark.streaming.synchronize_docs import publish_doc_batch

from .test_docstore import make_docs

from .conftest import full_only

_MSG_DEFAULTS = dict(
    type_name="m4i_data_entity",
    qualified_name=None,
    guid=None,
    original_event_type=None,
    event_type=None,
    direct_change=True,
    inserted_attributes=[],
    changed_attributes=[],
    deleted_attributes=[],
    inserted_relationships={},
    changed_relationships={},
    deleted_relationships={},
    old_value=None,
    new_value=None,
)


def _entity(guid, type_name, attributes, relationships=None):
    return (
        guid, type_name, f"qn://{guid}", attributes, relationships or {},
        1000, 2000, "u", "u", "ACTIVE", False, 0, 1, [], [], [], None, None,
    )


def _rel(guid, type_name):
    return (guid, type_name, "ACTIVE", guid, None, f"r_{guid}", "ACTIVE", {}, {})


def make_messages(spark, *rows: dict):
    full = []
    for row in rows:
        d = dict(_MSG_DEFAULTS)
        d.update(row)
        d.setdefault("qualified_name", f"qn://{d['guid']}")
        full.append(tuple(d[f.name] for f in ENTITY_MESSAGE.fields))
    # localCheckpoint: same planning-cost cut as make_docs — the
    # dispatcher filters the message frame per event type ~6x.
    return spark.createDataFrame(full, ENTITY_MESSAGE).localCheckpoint()


@pytest.fixture()
def seeded_store(spark):
    return make_docs(
        spark,
        dict(guid="d1", typename="m4i_data_domain", name="Domain1",
             referenceablequalifiedname="qn://d1", sourcetype="Business",
             deriveddomainleadguid="lead0"),
        dict(guid="e1", typename="m4i_data_entity", name="Entity1",
             referenceablequalifiedname="qn://e1", parentguid="d1",
             breadcrumbguid=["d1"], breadcrumbname=["Domain1"],
             breadcrumbtype=["m4i_data_domain"]),
        dict(guid="e3", typename="m4i_data_entity", name="Entity3",
             referenceablequalifiedname="qn://e3", parentguid="d1",
             breadcrumbguid=["d1"], breadcrumbname=["Domain1"],
             breadcrumbtype=["m4i_data_domain"]),
        dict(guid="e9", typename="m4i_data_entity", name="Entity9",
             referenceablequalifiedname="qn://e9"),
        dict(guid="a9", typename="m4i_data_attribute", name="Attr9",
             referenceablequalifiedname="qn://a9", parentguid="e9",
             breadcrumbguid=["e9"], breadcrumbname=["Entity9"],
             breadcrumbtype=["m4i_data_entity"]),
        dict(guid="x9", typename="m4i_dataset", name="Gone",
             referenceablequalifiedname="qn://x9"),
    )


def _run(spark, store, *rows):
    closure = supertype_closure_df(spark)
    upserts, deletes = synchronize_batch(
        make_messages(spark, *rows), store, closure
    )
    return (
        {r.guid: r for r in upserts.collect()},
        {r.guid for r in deletes.collect()},
    )


def test_create_event_builds_doc_under_parent(spark, seeded_store):
    ups, dels = _run(
        spark,
        seeded_store,
        dict(
            guid="a1",
            type_name="m4i_data_attribute",
            event_type="EntityCreated",
            inserted_attributes=["name"],
            new_value=_entity(
                "a1", "m4i_data_attribute", {"name": "NewAttr"},
                {"parentEntity": [_rel("e1", "m4i_data_entity")]},
            ),
        ),
    )
    assert dels == set()
    doc = ups["a1"]
    assert doc.name == "NewAttr"
    assert doc.parentguid == "e1"
    # breadcrumb extends the parent's path (G9)
    assert doc.breadcrumbguid == ["d1", "e1"]
    assert doc.breadcrumbname == ["Domain1", "Entity1"]
    assert doc.sourcetype == "Business"
    assert doc.m4isourcetype == ["m4i_data_attribute"]


def test_rename_cascades_to_descendants(spark, seeded_store):
    ups, _ = _run(
        spark,
        seeded_store,
        dict(
            guid="d1",
            type_name="m4i_data_domain",
            event_type="EntityAttributeAudit",
            changed_attributes=["name"],
            new_value=_entity("d1", "m4i_data_domain", {"name": "DomainX"}),
        ),
    )
    # own doc renamed + the 2 descendants' breadcrumbname slots rewritten
    assert ups["d1"].name == "DomainX"
    assert ups["e1"].breadcrumbname == ["DomainX"]
    assert ups["e3"].breadcrumbname == ["DomainX"]
    assert set(ups) == {"d1", "e1", "e3"}


def test_inserted_parent_link_rebases_child_and_descendants(spark, seeded_store):
    ups, _ = _run(
        spark,
        seeded_store,
        dict(
            guid="d1",
            type_name="m4i_data_domain",
            event_type="EntityRelationshipAudit",
            inserted_relationships={
                "childEntities": [_rel("e9", "m4i_data_entity")]
            },
        ),
    )
    # the child is rebased under d1 (G9/G10/G15)...
    assert ups["e9"].parentguid == "d1"
    assert ups["e9"].breadcrumbguid == ["d1"]
    assert ups["e9"].deriveddomainleadguid == "lead0"  # G15 from d1
    # ...and its descendant gains the new ancestor prefix (Q2 -> G12)
    # plus the rebased child's derived fields (G14)
    assert ups["a9"].breadcrumbguid == ["d1", "e9"]
    assert ups["a9"].deriveddomainleadguid == "lead0"
    assert set(ups) == {"e9", "a9"}


def test_deleted_parent_link_clears_child_and_descendants(spark, seeded_store):
    ups, _ = _run(
        spark,
        seeded_store,
        dict(
            guid="e9",
            type_name="m4i_data_entity",
            event_type="EntityRelationshipAudit",
            deleted_relationships={
                "parentDomain": [_rel("d1", "m4i_data_domain")]
            },
        ),
    )
    # G27: the orphaned child loses parent + breadcrumbs... (the path the
    # reference's missing awaits never executed)
    assert ups["e9"].parentguid is None
    assert ups["e9"].breadcrumbguid == []
    # a9's breadcrumb [e9] does not contain d1's child guid... wait: the
    # descendant walk keys on docs whose breadcrumb contains e9 — a9
    # keeps e9 but drops nothing since d1 wasn't in its path.
    assert "a9" not in ups or ups["a9"].breadcrumbguid == ["e9"]


def test_governance_role_and_delete_in_one_batch(spark, seeded_store):
    ups, dels = _run(
        spark,
        seeded_store,
        dict(
            guid="d1",
            type_name="m4i_data_domain",
            event_type="EntityRelationshipAudit",
            inserted_relationships={"domainLead": [_rel("p7", "m4i_person")]},
        ),
        dict(guid="x9", type_name="m4i_dataset", event_type="EntityDeleted"),
    )
    assert dels == {"x9"}
    assert "x9" not in ups
    assert ups["d1"].deriveddomainleadguid == "p7"
    assert ups["d1"].derivedpersonguid == ["p7"]
    # G14: d1's descendants receive the updated derived fields
    # (update_derived_entity_fields_of_child_entities after the
    # governance-role branch, synchronize_app_search.py:378-380)
    assert ups["e1"].deriveddomainleadguid == "p7"
    assert ups["e1"].derivedpersonguid == ["p7"]
    assert ups["e3"].deriveddomainleadguid == "p7"


def test_indirect_changes_are_gated_out(spark, seeded_store):
    ups, dels = _run(
        spark,
        seeded_store,
        dict(
            guid="d1",
            type_name="m4i_data_domain",
            event_type="EntityAttributeAudit",
            direct_change=False,
            changed_attributes=["name"],
            new_value=_entity("d1", "m4i_data_domain", {"name": "Nope"}),
        ),
    )
    assert ups == {} and dels == set()


def _apply(store, upserts, deletes):
    return apply_batch(store, upserts, deletes).localCheckpoint()


def _rows(store):
    cols = sorted(store.columns)
    return sorted(map(str, (tuple(r) for r in store.select(*cols).collect())))


_DISJOINT_MSGS = (
    dict(
        guid="x9",
        type_name="m4i_dataset",
        event_type="EntityAttributeAudit",
        changed_attributes=["name"],
        new_value=_entity("x9", "m4i_dataset", {"name": "Renamed"}),
    ),
    dict(
        guid="a1",
        type_name="m4i_data_attribute",
        event_type="EntityCreated",
        inserted_attributes=["name"],
        new_value=_entity(
            "a1", "m4i_data_attribute", {"name": "NewAttr"},
            {"parentEntity": [_rel("e1", "m4i_data_entity")]},
        ),
    ),
    dict(
        guid="a9",
        type_name="m4i_data_attribute",
        event_type="EntityRelationshipAudit",
        deleted_relationships={"parentEntity": [_rel("e9", "m4i_data_entity")]},
    ),
    dict(guid="e3", type_name="m4i_data_entity", event_type="EntityDeleted"),
)


@full_only  # 120 s: 17 dispatcher invocations; per-handler outputs stay pinned below
def test_disjoint_batches_are_split_invariant(spark, seeded_store):
    """For messages whose touched doc sets are disjoint, the dispatcher
    must produce the same final store whether they arrive as one batch
    or one-at-a-time in any order — the determinism contract SURVEY §7.5
    claims for the set-at-a-time reformulation (the reference's
    per-record loop is trivially order-dependent; our batch form must
    not be, when no doc is touched twice)."""
    closure = supertype_closure_df(spark)

    one_shot = _apply(
        seeded_store,
        *synchronize_batch(make_messages(spark, *_DISJOINT_MSGS), seeded_store, closure),
    )

    for order in (_DISJOINT_MSGS, _DISJOINT_MSGS[::-1]):
        store = seeded_store
        for msg in order:
            store = _apply(
                store, *synchronize_batch(make_messages(spark, msg), store, closure)
            )
        assert _rows(store) == _rows(one_shot), f"order {[m['guid'] for m in order]}"


@full_only  # 30 s: replay idempotency meta-property (store batch-id fencing is pinned in test_store_bucketed)
def test_relationship_insert_replay_is_idempotent(spark, seeded_store):
    """Replaying the same relationship-insert batch against the already
    -updated store must be a no-op: breadcrumb prefix-insert guards on
    presence (G12), re-derivation and re-inherit recompute the same
    values — the at-least-once delivery safety the foreachBatch sink
    relies on."""
    closure = supertype_closure_df(spark)
    msgs = make_messages(
        spark,
        dict(
            guid="d1",
            type_name="m4i_data_domain",
            event_type="EntityRelationshipAudit",
            inserted_relationships={"childEntities": [_rel("e9", "m4i_data_entity")]},
        ),
    )
    once = _apply(seeded_store, *synchronize_batch(msgs, seeded_store, closure))
    twice = _apply(once, *synchronize_batch(msgs, once, closure))
    assert _rows(twice) == _rows(once)


def test_attribute_field_link_and_unlink(spark, seeded_store):
    """G18/G19 driven through the dispatcher: an inserted attr↔field
    relationship cross-writes both docs' linkage fields; a deleted one
    nulls them (handle_inserted_relationships :387-397,
    handle_deleted_relationships :453-460)."""
    field_doc = make_docs(
        spark,
        dict(guid="f1", typename="m4i_field", name="Field1",
             referenceablequalifiedname="qn://f1"),
    )
    store = seeded_store.unionByName(field_doc).localCheckpoint()
    # One dispatcher invocation serves both the assert readout and the
    # `linked` follow-up store (it used to run twice — ~30 s of pure
    # plan-construction + execution per invocation on these frames).
    ins_ups, ins_dels = synchronize_batch(
        make_messages(spark, dict(
            guid="a9",
            type_name="m4i_data_attribute",
            event_type="EntityRelationshipAudit",
            inserted_relationships={"fields": [_rel("f1", "m4i_field")]},
        )),
        store, supertype_closure_df(spark),
    )
    ins_ups = ins_ups.localCheckpoint()
    ups = {r.guid: r for r in ins_ups.collect()}
    assert ups["a9"].derivedfieldguid == ["f1"]
    assert ups["a9"].derivedfield == "Field1"
    assert ups["f1"].deriveddataattributeguid == ["a9"]
    assert ups["f1"].deriveddataattribute == "Attr9"

    linked = _apply(store, ins_ups, ins_dels)
    ups2, _ = _run(
        spark,
        linked,
        dict(
            guid="a9",
            type_name="m4i_data_attribute",
            event_type="EntityRelationshipAudit",
            deleted_relationships={"fields": [_rel("f1", "m4i_field")]},
        ),
    )
    assert ups2["a9"].derivedfieldguid is None
    assert ups2["a9"].derivedfield is None
    assert ups2["f1"].deriveddataattributeguid is None
    assert ups2["f1"].deriveddataattribute is None


@full_only  # 86 s: fixpoint meta-property; single-pass cascades stay pinned
def test_three_level_cascade_single_pass_vs_fixpoint(spark):
    """SURVEY §7.5 hard-part 2, both resolutions demonstrated on a
    3-link chain arriving in ONE batch (system -> collection ->
    dataset -> field): single-pass semantics leave the deep descendants
    with truncated breadcrumbs until the next batch (each link sees the
    PRE-batch parent), while the fixpoint mode resolves the whole chain
    in-batch."""
    from m4i_flink_tasks_spark.plans import (
        synchronize_batch_to_fixpoint,
    )
    from m4i_flink_tasks_spark.plans.synchronize_plan import apply_batch

    store = make_docs(
        spark,
        dict(guid="s1", typename="m4i_system", name="Sys",
             referenceablequalifiedname="qn://s1"),
        dict(guid="c1", typename="m4i_collection", name="Coll",
             referenceablequalifiedname="qn://c1"),
        dict(guid="ds1", typename="m4i_dataset", name="Dset",
             referenceablequalifiedname="qn://ds1"),
        dict(guid="f1", typename="m4i_field", name="Fld",
             referenceablequalifiedname="qn://f1"),
    )
    chain = [
        dict(guid="s1", type_name="m4i_system",
             event_type="EntityRelationshipAudit",
             inserted_relationships={"childCollections": [_rel("c1", "m4i_collection")]}),
        dict(guid="c1", type_name="m4i_collection",
             event_type="EntityRelationshipAudit",
             inserted_relationships={"childDatasets": [_rel("ds1", "m4i_dataset")]}),
        dict(guid="ds1", type_name="m4i_dataset",
             event_type="EntityRelationshipAudit",
             inserted_relationships={"childFields": [_rel("f1", "m4i_field")]}),
    ]
    closure = supertype_closure_df(spark)
    msgs = make_messages(spark, *chain)

    # Single pass: every child is linked against the PRE-batch parent,
    # so deep breadcrumbs are truncated (documented default).
    one_pass = {
        r.guid: r
        for r in synchronize_batch(msgs, store, closure)[0].collect()
    }
    assert one_pass["c1"].breadcrumbguid == ["s1"]
    assert one_pass["ds1"].breadcrumbguid == ["c1"]  # misses s1
    assert one_pass["f1"].breadcrumbguid == ["ds1"]  # misses s1, c1

    # ...and the missing levels land on the NEXT batch replay of the
    # same links (how the default mode eventually converges).
    applied = apply_batch(
        store, *synchronize_batch(msgs, store, closure)
    ).localCheckpoint()
    second = {
        r.guid: r
        for r in synchronize_batch(msgs, applied, closure)[0].collect()
    }
    assert second["f1"].breadcrumbguid == ["c1", "ds1"]  # one level deeper

    # Fixpoint mode: the whole chain resolves inside one batch.
    ups, dels = synchronize_batch_to_fixpoint(msgs, store, closure)
    fix = {r.guid: r for r in ups.collect()}
    assert dels.isEmpty()
    assert fix["c1"].breadcrumbguid == ["s1"]
    assert fix["ds1"].breadcrumbguid == ["s1", "c1"]
    assert fix["f1"].breadcrumbguid == ["s1", "c1", "ds1"]
    assert fix["f1"].breadcrumbname == ["Sys", "Coll", "Dset"]


def _doc_store(spark, root, docs):
    """A 16-bucket doc store (the sink's layout) holding ``docs``."""
    store = BucketedParquetUpsertStore(spark, str(root), key_cols=["guid"], n_buckets=16)
    store.merge(docs)
    return store


def test_doc_store_sink_rewrites_only_touched_buckets(spark, seeded_store):
    """The App Search doc-store sink contract at scale: a micro-batch
    merge through ``publish_doc_batch``, the ``run_synchronize_appsearch``
    sink step (upserts + deletes in one combine), must leave every bucket
    not holding a touched guid byte-for-byte untouched — the reference
    grows this store unboundedly (synchronize_app_search/elastic.py:43-93),
    so O(touched buckets) merges are what survive 100x state growth."""
    import glob
    import os
    import tempfile

    filler = make_docs(
        spark,
        *[
            dict(guid=f"z{i}", typename="m4i_dataset", name=f"Filler{i}",
                 referenceablequalifiedname=f"qn://z{i}")
            for i in range(48)
        ],
    )
    root = tempfile.mkdtemp(prefix="m4i_docsink_")
    store = _doc_store(spark, root, seeded_store.unionByName(filler))
    state0 = store._state()
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(root, "v*", "_bucket=*", "*.parquet"))
    }

    closure = supertype_closure_df(spark)
    msgs = make_messages(
        spark,
        dict(
            guid="x9",
            type_name="m4i_dataset",
            event_type="EntityAttributeAudit",
            changed_attributes=["name"],
            new_value=_entity("x9", "m4i_dataset", {"name": "Renamed"}),
        ),
        dict(guid="z7", type_name="m4i_dataset", event_type="EntityDeleted"),
    )
    dispatched = []

    def dispatch(*args):
        dispatched.append(synchronize_batch(*args))
        return dispatched[-1]

    publish_doc_batch(store, msgs, 0, closure, dispatch)
    [(upserts, deletes)] = dispatched

    # Which buckets were legitimately touched?
    bucket_of = lambda df: {
        r["_b"]
        for r in df.select(
            F.pmod(F.xxhash64("guid"), F.lit(16)).cast("int").alias("_b")
        ).collect()
    }
    touched = bucket_of(upserts.select("guid")) | bucket_of(deletes)
    state1 = store._state()
    changed = {
        int(b)
        for b in set(state0["buckets"]) | set(state1["buckets"])
        if state0["buckets"].get(b) != state1["buckets"].get(b)
    }
    assert changed <= touched, f"untouched buckets rewritten: {changed - touched}"
    for p, mtime in files_before.items():
        assert os.path.exists(p), f"pre-existing segment removed: {p}"
        assert os.path.getmtime(p) == mtime, f"pre-existing segment rewritten: {p}"

    got = {r.guid: r for r in store.current().collect()}
    assert got["x9"].name == "Renamed" and "z7" not in got
    assert len(got) == 6 + 48 - 1  # seeded + filler - deleted


def _plan_nodes(plan):
    """Node names of a Catalyst plan tree, root first."""
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]




def test_doc_sink_dispatches_once_and_skips_replays(spark, seeded_store, tmp_path):
    """``publish_doc_batch`` runs the dispatcher once per micro-batch and
    hands the merge a materialized frame, so the merge's reads scan rows
    instead of re-running the dispatcher's joins and unions. A replayed
    batch id neither dispatches nor runs a Spark job."""
    store = _doc_store(spark, tmp_path, seeded_store)
    closure = supertype_closure_df(spark)
    msgs = make_messages(spark, _DISJOINT_MSGS[0])
    calls, merged = [], []

    def dispatch(*args):
        calls.append(args)
        return synchronize_batch(*args)

    merge = store.merge

    def recording_merge(batch, **kwargs):
        merged.append(batch)
        merge(batch, **kwargs)

    store.merge = recording_merge
    publish_doc_batch(store, msgs, 0, closure, dispatch)
    assert len(calls) == 1
    [upserts] = merged
    nodes = _plan_nodes(upserts._jdf.queryExecution().optimizedPlan())
    assert not {"Join", "Union"} & set(nodes), nodes
    assert {r.guid: r.name for r in store.current().collect()}["x9"] == "Renamed"

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = scheduler.nextJobId()
    publish_doc_batch(store, msgs, 0, closure, dispatch)
    assert len(calls) == 1 and len(merged) == 1
    assert scheduler.nextJobId() == jobs


def test_doc_sink_releases_persisted_frames(spark, seeded_store, tmp_path):
    """Under ``strategy=persist`` the sink step caches three frames per
    micro-batch; it must release them once the merge is done, or the
    CacheManager holds three more for every batch of the stream. The
    stand-in dispatcher (rename the messaged docs, delete nothing)
    keeps the test on the sink's own caching."""

    def rename(msgs, docs, closure):
        keys = msgs.select("guid")
        ups = docs.join(keys, "guid", "left_semi").withColumn("name", F.lit("R"))
        return ups, keys.limit(0)

    store = _doc_store(spark, tmp_path, seeded_store)
    msgs = make_messages(spark, _DISJOINT_MSGS[0])
    persisted = lambda: set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    before = persisted()
    spark.conf.set("spark.m4i.materialize.strategy", "persist")
    try:
        for batch_id in (0, 1):
            publish_doc_batch(store, msgs, batch_id, None, rename)
    finally:
        spark.conf.unset("spark.m4i.materialize.strategy")
    assert store.last_batch_id() == 1
    assert not persisted() - before


def test_governance_role_delete_clears_and_propagates(spark, seeded_store):
    """G17 delete path: removing d1's domainLead clears the derived lead
    (intended semantics — the reference's recompute-from-empty-list is a
    no-op bug) and the descendants receive the cleared fields via G14."""
    # first set the role through the dispatcher, then delete it
    grant = dict(
        guid="d1",
        type_name="m4i_data_domain",
        event_type="EntityRelationshipAudit",
        inserted_relationships={"domainLead": [_rel("p7", "m4i_person")]},
    )
    closure = supertype_closure_df(spark)
    granted = _apply(
        seeded_store,
        *synchronize_batch(make_messages(spark, grant), seeded_store, closure),
    )
    assert {r.guid: r for r in granted.collect()}["d1"].deriveddomainleadguid == "p7"

    ups, _ = _run(
        spark,
        granted,
        dict(
            guid="d1",
            type_name="m4i_data_domain",
            event_type="EntityRelationshipAudit",
            deleted_relationships={"domainLead": [_rel("p7", "m4i_person")]},
        ),
    )
    assert ups["d1"].deriveddomainleadguid is None
    assert ups["d1"].derivedpersonguid == []
    # descendants e1/e3 had p7 propagated on grant; the delete propagates
    # the cleared fields back down
    assert ups["e1"].deriveddomainleadguid is None
    assert ups["e1"].derivedpersonguid == []
    assert ups["e3"].deriveddomainleadguid is None
