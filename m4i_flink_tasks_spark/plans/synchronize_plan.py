"""G26-G28 — the synchronize_app_search event dispatcher as one
set-at-a-time micro-batch plan (SURVEY §2.5, §3.3).

Reference: ``SynchronizeAppsearch.map`` (synchronize_elastic_job.py:66-121)
dispatches each EntityMessage to handlers that issue dozens of per-doc
store reads and writes (handle_inserted_relationships
synchronize_app_search.py:334-398, handle_deleted_relationships
:401-464, handle_updated/deleted_attributes :491-562, create_doc
:565-592, delete :111-113), collapsing repeated doc updates through the
``updated_docs`` dict (D9).

Here the whole micro-batch is **one dataflow**: events are split by
type into branch plans, every per-doc point read becomes a join against
the pre-batch store snapshot, descendant walks become exploded-edge
HASH joins (``_breadcrumb_referrers`` — not ``array_contains``
theta-joins, which would plan as BroadcastNestedLoopJoin), and all
branch outputs union into a single last-writer-wins collapse feeding
one keyed merge (the Delta-MERGE contract of ``streaming.store``).

Batch semantics (SURVEY §7.5 choice, documented): every branch reads
the PRE-BATCH snapshot; effects of one event on another event's docs
within the same batch resolve via the D9 collapse (branch priority =
create < attribute < rel-insert < rel-delete), and multi-level cascades
land on the following batch. This matches the reference's behavior for
distinct target docs and makes intra-batch collisions deterministic —
the reference's outcome depends on event arrival order. The OTHER §7.5
resolution — loop the dispatcher to fixpoint so same-batch cascades
land immediately — is :func:`synchronize_batch_to_fixpoint` below.
Job 4's streaming sink runs the single pass; the fixpoint form is for
callers that need multi-level cascades inside one batch.

Parity notes: the ``direct_change`` gate (:74-76) is applied first;
``EntityDeleted`` produces store deletes (Q7, :111-113). All three
sub-paths of both relationship handlers run: parent-child (rebase /
orphan + descendant cascades), attribute↔field linkage (G18 set on
insert, G19 unset on delete, :387-397/:453-460), and governance roles
(G17 set on insert :378-380, intended un-set semantics on delete
:441-450 — see ``remove_governance_role``).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.docstore import (
    apply_attribute_field_linkage,
    apply_attribute_updates,
    apply_governance_role,
    classify_relationship,
    clear_breadcrumb,
    collapse_last_writer_wins,
    create_docs,
    define_breadcrumb,
    delete_breadcrumb_prefix,
    inherit_derived_fields,
    insert_breadcrumb_prefix,
    orient_parent_child,
    propagate_derived_fields,
    remove_governance_role,
    rename_in_breadcrumbs,
    rename_in_derived_fields,
    uninherit_derived_fields,
)
from ..schemas import APP_SEARCH_DOC, UPDATE_ATTRIBUTES

_DOC_COLS = [f.name for f in APP_SEARCH_DOC.fields]
# apply_governance_role / remove_governance_role: (docs, role_key, person_guid)
_RoleKernel = Callable[[DataFrame, Column, Column], DataFrame]


def _as_doc_rows(df: DataFrame, priority: int) -> DataFrame:
    return df.select(*_DOC_COLS, F.lit(priority).alias("_prio"))


def _exploded_relationships(msgs: DataFrame, field: str) -> DataFrame:
    """Explode one relationship-diff map into classified, oriented edge
    rows: (self_guid, self_type, rel_key, target guid/type, class, orientation)."""
    exploded = (
        msgs.select(
            F.col("guid").alias("self_guid"),
            F.col("type_name").alias("self_type"),
            F.explode(field).alias("rel_key", "targets"),
        )
        .select(
            "self_guid",
            "self_type",
            "rel_key",
            F.explode("targets").alias("t"),
        )
        .select(
            "self_guid",
            "self_type",
            "rel_key",
            F.col("t.guid").alias("target_guid"),
            F.col("t.type_name").alias("target_type"),
        )
    )
    return exploded.withColumns(
        {
            "cls": classify_relationship(
                F.col("rel_key"), F.col("self_type"), F.col("target_type")
            ),
            "pc": orient_parent_child(
                F.col("rel_key"),
                F.col("self_guid"),
                F.col("self_type"),
                F.col("target_guid"),
                F.col("target_type"),
            ),
        }
    )


def _breadcrumb_referrers(
    docs: DataFrame, keyed: DataFrame, key_col: str
) -> DataFrame:
    """Q2 descendant/referrer walk: docs whose ``breadcrumbguid``
    contains ``keyed[key_col]``, joined with that key row's payload
    columns (synchronize_app_search.py:101-115, :605-614).

    Plan shape: explode the breadcrumb array into (doc guid, ancestor)
    edge rows and HASH-join against the key set. The direct
    ``array_contains`` theta-join can only execute as a
    BroadcastNestedLoopJoin — |docs| x |keys| predicate evaluations
    per batch, the real scale hazard of job 4. The exploded form is
    O(|docs| x depth) with hash lookups, and is exactly the probe an
    incrementally-maintained (ancestor_guid, doc_guid) edge table
    bucketed by ancestor answers with partition pruning at 100 TB
    (SCALE.md) — this helper is the single swap point for that table.
    Breadcrumbs never repeat a guid (the G12 prefix-insert guards on
    absence), so edge multiplicity equals array_contains multiplicity.
    """
    edges = docs.select(
        "guid", F.explode("breadcrumbguid").alias(key_col)
    )
    matched = edges.join(F.broadcast(keyed), key_col)
    return docs.join(matched, "guid")


def _relinked_children(docs: DataFrame, links: DataFrame) -> DataFrame:
    """The docs named by ``links.child_guid``, with ``parentguid`` set to
    the link's ``new_parentguid``."""
    return (
        docs.join(F.broadcast(links), docs["guid"] == links["child_guid"])
        .withColumn("parentguid", F.col("new_parentguid"))
        .drop("child_guid", "new_parentguid")
    )


def _parent_child_links(edges: DataFrame) -> DataFrame:
    """Distinct (child_guid, parent_guid) pairs from classified edges."""
    return (
        edges.filter(F.col("cls.parent_child"))
        .select(
            F.col("pc.child_guid").alias("child_guid"),
            F.col("pc.parent_guid").alias("new_parentguid"),
        )
        .distinct()
    )


def synchronize_batch(
    messages: DataFrame, docs: DataFrame, type_closure: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of EntityMessages against the doc store snapshot.

    Returns ``(upserts, delete_keys)`` for the store merge: upserts are
    full doc rows (D9-collapsed), delete_keys is a one-column ``guid``
    frame.
    """
    msgs = messages.filter(F.col("direct_change"))  # gate, :74-76

    # --- deletes (Q7) -----------------------------------------------------
    delete_keys = (
        msgs.filter(F.col("event_type") == "EntityDeleted").select("guid").distinct()
    )

    # --- creates (G23 + G9/G15 against existing parents) ------------------
    created = create_docs(
        msgs.filter(F.col("event_type") == "EntityCreated"), type_closure
    )
    created = define_breadcrumb(created, docs)
    created = inherit_derived_fields(created, docs)
    branches = [_as_doc_rows(created, 0)]

    # --- attribute updates/deletes (G24/G25 + rename cascade G20/G21) -----
    attr_msgs = msgs.filter(F.col("event_type") == "EntityAttributeAudit")
    touched = F.array_union(
        F.col("inserted_attributes"), F.col("changed_attributes")
    )
    updates = attr_msgs.select(
        "guid",
        *[
            F.when(
                F.array_contains(touched, attr), F.col("new_value.attributes")[attr]
            ).alias(attr)
            for attr in ("name", *UPDATE_ATTRIBUTES)
        ],
        F.array_contains(F.col("deleted_attributes"), "name").alias("name_deleted"),
    )
    attr_docs = docs.join(
        F.broadcast(updates.select("guid")).distinct(), "guid", "left_semi"
    )
    branches.append(_as_doc_rows(apply_attribute_updates(attr_docs, updates), 1))

    # Rename cascade: docs referencing a renamed guid get the new name
    # spliced into breadcrumbname / derived name arrays (G20/G21) — an
    # array_contains join instead of the reference's per-doc Q3/Q4 queries.
    renames = updates.filter(F.col("name").isNotNull()).select(
        F.col("guid").alias("renamed_guid"), F.col("name").alias("new_name")
    )
    bc_referrers = _breadcrumb_referrers(docs, renames, "renamed_guid")
    bc_renamed = rename_in_breadcrumbs(
        bc_referrers, F.col("renamed_guid"), F.col("new_name")
    )
    bc_renamed = rename_in_derived_fields(
        bc_renamed, F.col("renamed_guid"), F.col("new_name")
    )
    branches.append(_as_doc_rows(bc_renamed, 2))

    # --- inserted relationships (G26) -------------------------------------
    rel_ins = _exploded_relationships(
        msgs.filter(
            F.col("event_type").isin(
                "EntityRelationshipAudit", "EntityCreated"
            )
        ),
        "inserted_relationships",
    )
    links = _parent_child_links(rel_ins)
    children = define_breadcrumb(_relinked_children(docs, links), docs)
    children = inherit_derived_fields(children, docs)
    branches.append(_as_doc_rows(children, 3))

    # Descendant propagation (Q2 -> G12): every doc whose breadcrumb
    # contains a newly-linked child gets that child's new parent
    # prefix-inserted.
    new_ancestors = links.join(
        docs.select(
            F.col("guid").alias("new_parentguid"),
            F.col("name").alias("anc_name"),
            F.col("typename").alias("anc_type"),
        ),
        "new_parentguid",
    )
    desc_ins = _breadcrumb_referrers(docs, new_ancestors, "child_guid")
    desc_ins = insert_breadcrumb_prefix(
        desc_ins, F.col("new_parentguid"), F.col("anc_name"), F.col("anc_type")
    )
    # ... and G14: each descendant also receives the rebased child's
    # derived fields (update_derived_entity_fields_of_child_entities,
    # synchronize_app_search.py:370-371), sourced from the child doc as
    # updated by this batch (post-G15 inherit).
    desc_ins = propagate_derived_fields(desc_ins, children, "child_guid")
    branches.append(_as_doc_rows(desc_ins, 4))

    def governance(rels: DataFrame, kernel: _RoleKernel, prio: int) -> list[DataFrame]:
        """G17 ``kernel`` on the self docs of ``rels``' governance-role
        edges (``prio``), then G14: their descendants get the updated
        doc's derived fields (``prio + 1``, synchronize_app_search.py
        :378-380 on insert, :441-450 on delete)."""
        roles = rels.filter(F.col("cls.governance_role")).select(
            F.col("self_guid").alias("guid"),
            F.col("rel_key").alias("role_key"),
            F.col("target_guid").alias("person_guid"),
        )
        updated = kernel(
            docs.join(F.broadcast(roles), "guid"),
            F.col("role_key"),
            F.col("person_guid"),
        )
        desc = _breadcrumb_referrers(
            docs, roles.select(F.col("guid").alias("_anc")).distinct(), "_anc"
        )
        desc = propagate_derived_fields(desc, updated, "_anc")
        return [_as_doc_rows(updated, prio), _as_doc_rows(desc, prio + 1)]

    # Governance roles (G8 -> G17).
    branches += governance(rel_ins, apply_governance_role, 5)

    # Attribute↔field linkage (G18 define on insert, G19 delete on
    # unlink — handle_inserted_relationships :387-397 /
    # handle_deleted_relationships :453-460). Orientation is by type
    # (the attribute side vs the m4i_field side); both touched docs are
    # updated through one broadcast of the pair batch.
    rel_del = _exploded_relationships(
        msgs.filter(F.col("event_type") == "EntityRelationshipAudit"),
        "deleted_relationships",
    )
    attr_side = F.when(
        F.col("self_type") == "m4i_data_attribute", F.col("self_guid")
    ).otherwise(F.col("target_guid"))
    field_side = F.when(
        F.col("self_type") == "m4i_field", F.col("self_guid")
    ).otherwise(F.col("target_guid"))
    af_pairs = (
        rel_ins.filter(F.col("cls.attribute_field"))
        .select(
            attr_side.alias("attribute_guid"),
            field_side.alias("field_guid"),
            F.lit(True).alias("linked"),
        )
        .unionByName(
            rel_del.filter(F.col("cls.attribute_field")).select(
                attr_side.alias("attribute_guid"),
                field_side.alias("field_guid"),
                F.lit(False).alias("linked"),
            )
        )
        .distinct()
    )
    af_touched = docs.join(
        F.broadcast(
            af_pairs.select(F.col("attribute_guid").alias("guid")).unionByName(
                af_pairs.select(F.col("field_guid").alias("guid"))
            )
        ).distinct(),
        "guid",
        "left_semi",
    )
    branches.append(
        _as_doc_rows(apply_attribute_field_linkage(af_touched, af_pairs), 9)
    )

    # Governance-role removal (G17 delete path; intended un-set
    # semantics — see remove_governance_role).
    branches += governance(rel_del, remove_governance_role, 10)

    # --- deleted relationships (G27, the path the reference's missing
    # awaits never ran) -----------------------------------------------------
    del_links = _parent_child_links(rel_del)
    orphaned = uninherit_derived_fields(_relinked_children(docs, del_links), docs)
    orphaned = clear_breadcrumb(orphaned)
    branches.append(_as_doc_rows(orphaned, 7))

    # Descendants of an orphaned child lose the removed ancestor prefix
    # (Q2 -> G13) and receive the orphaned child's post-G16 derived
    # fields (G14, synchronize_app_search.py:436-438).
    desc_del = _breadcrumb_referrers(
        docs, del_links.select("child_guid", "new_parentguid"), "child_guid"
    )
    desc_del = delete_breadcrumb_prefix(desc_del, F.col("new_parentguid"))
    desc_del = propagate_derived_fields(desc_del, orphaned, "child_guid")
    branches.append(_as_doc_rows(desc_del, 8))

    # --- D9 collapse ------------------------------------------------------
    all_updates = reduce(DataFrame.unionByName, branches)
    upserts = collapse_last_writer_wins(all_updates, "_prio")
    # drop docs that are also deleted in this batch
    upserts = upserts.join(F.broadcast(delete_keys), "guid", "left_anti")
    return upserts, delete_keys


def apply_batch(docs: DataFrame, upserts: DataFrame, deletes: DataFrame) -> DataFrame:
    """Fold one batch's (upserts, deletes) into a store snapshot —
    replace upserted keys, drop deleted keys, keep the rest."""
    gone = upserts.select("guid").unionByName(deletes).distinct()
    return docs.join(F.broadcast(gone), "guid", "left_anti").unionByName(
        upserts.select(docs.columns)
    )


def synchronize_batch_to_fixpoint(
    messages: DataFrame,
    docs: DataFrame,
    type_closure: DataFrame,
    max_rounds: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """SURVEY §7.5 hard-part 2, resolved the OTHER way: re-run the
    set-at-a-time dispatcher against its own output until the store
    stops changing, so multi-level cascades between events of ONE batch
    (entity re-parented under a parent that was itself re-parented this
    batch) land in this batch instead of the next.

    Every handler is idempotent against an already-updated snapshot
    (``test_relationship_insert_replay_is_idempotent``), so iteration
    converges in at most the hierarchy depth; rounds are
    ``localCheckpoint``-ed to keep lineage flat, and the loop stops as
    soon as a round is a no-op. Raises if ``max_rounds`` is hit while
    still changing — silent truncation would hide a divergent handler.

    Same return contract as :func:`synchronize_batch`: ``(upserts,
    delete_keys)`` relative to the ORIGINAL snapshot, so sinks can swap
    the two functions without changing their merge logic.
    """
    state = docs.localCheckpoint()
    original = state
    for _ in range(max_rounds):
        upserts, deletes = synchronize_batch(messages, state, type_closure)
        new_state = apply_batch(state, upserts, deletes).localCheckpoint()
        if new_state.exceptAll(state).isEmpty():
            # Converged: everything that differs from the pre-batch
            # snapshot is this batch's effective upsert set.
            final_upserts = new_state.exceptAll(original)
            return final_upserts, deletes
        state = new_state
    raise RuntimeError(
        f"synchronize_batch_to_fixpoint did not converge in {max_rounds} "
        "rounds — a handler is not idempotent or the hierarchy is deeper "
        "than max_rounds"
    )
