"""App Search document-store maintenance (SURVEY §2.5, G5-G28) —
set-at-a-time DataFrame transforms over the FIXTURES §6 doc schema.

The reference mutates its document store doc-at-a-time inside
``SynchronizeAppsearch.map`` (synchronize_app_search.py), issuing point
reads per touched doc. Every kernel below is the same semantics as a
whole-batch DataFrame transform: point lookups become joins, descendant
walks become exploded-edge hash joins (``synchronize_plan``), and
repeated updates collapse last-writer-wins before a single keyed merge
(D9). Each kernel sets its columns in one projection of its input row.

Deliberate deviations from reference bugs (SURVEY §7.4), each noted at
the operator:
- G12 writes the correct ``breadcrumbguid`` field (reference typo
  ``breadcrumbguids``, synchronize_app_search.py:236);
- G13 drops the removed ancestor *and* everything before it (the
  reference keeps the ancestor itself via ``[guid_index::]``, :251-258);
- G20 matches breadcrumb names positionally via the guid array (the
  reference matches by name equality, :616-636);
- the deleted-relationship path actually runs (the reference's missing
  ``await``s at :423,:453 meant it never did).

Per-batch cascade semantics: one pass per micro-batch (an event's
effects on descendants land in the same batch; cascades *between* two
events of one batch resolve on the next batch) — the
reference-equivalent choice documented in SURVEY §7.5.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hierarchy import HIERARCHY_MAPPING
from ..schemas import DQ_SCORE_FIELDS, GOVERNANCE_ROLE_KEYS

_BREADCRUMB_COLS = ("breadcrumbguid", "breadcrumbname", "breadcrumbtype")


# --------------------------------------------------------------------------
# Relationship classification (G5-G8)
# --------------------------------------------------------------------------

def _hierarchy_map_col() -> Column:
    return F.create_map(
        *[F.lit(x) for pair in HIERARCHY_MAPPING.items() for x in pair]
    )


def classify_relationship(
    rel_key: Column, self_type: Column, target_type: Column
) -> Column:
    """G5/G7/G8 as one struct of booleans.

    parent_child (is_parent_child_relationship,
    synchronize_app_search.py:117-130): key starts with child/parent, or
    the {self, target} type pair matches the containment map in either
    direction. attribute_field (:135-143): links m4i_data_attribute and
    m4i_field in either direction. governance_role (:292-294): key in
    the fixed role set.
    """
    h = _hierarchy_map_col()
    pair_match = (h[self_type].eqNullSafe(target_type)) | (
        h[target_type].eqNullSafe(self_type)
    )
    parent_child = (
        rel_key.startswith("child") | rel_key.startswith("parent") | pair_match
    )
    attribute_field = (
        (self_type == "m4i_data_attribute") & (target_type == "m4i_field")
    ) | ((self_type == "m4i_field") & (target_type == "m4i_data_attribute"))
    governance = rel_key.isin(*GOVERNANCE_ROLE_KEYS)
    return F.struct(
        parent_child.alias("parent_child"),
        attribute_field.alias("attribute_field"),
        governance.alias("governance_role"),
    )


def orient_parent_child(
    rel_key: Column,
    self_guid: Column,
    self_type: Column,
    target_guid: Column,
    target_type: Column,
) -> Column:
    """G6 get_parent_child_entity_guid (synchronize_app_search.py:205-228):
    returns struct(parent_guid, child_guid). Same-type pairs orient by the
    key prefix; cross-type pairs orient along the containment map."""
    h = _hierarchy_map_col()
    self_is_child = F.when(rel_key.startswith("parent"), F.lit(True)).when(
        rel_key.startswith("child"), F.lit(False)
    ).otherwise(h[self_type].eqNullSafe(target_type))
    return F.struct(
        F.when(self_is_child, target_guid).otherwise(self_guid).alias("parent_guid"),
        F.when(self_is_child, self_guid).otherwise(target_guid).alias("child_guid"),
    )


# --------------------------------------------------------------------------
# Breadcrumb maintenance (G9-G13)
# --------------------------------------------------------------------------

def define_breadcrumb(children: DataFrame, parent_docs: DataFrame) -> DataFrame:
    """G9 (synchronize_app_search.py:467-482): child breadcrumb = parent
    breadcrumb + [parent]. ``children`` needs a ``parentguid`` column;
    parent docs are joined once for the whole batch (the reference's
    per-child point read, :471)."""
    parents = parent_docs.select(
        F.col("guid").alias("parentguid"),
        *[F.col(c).alias(f"_p_{c}") for c in _BREADCRUMB_COLS],
        F.col("name").alias("_p_name"),
        F.col("typename").alias("_p_type"),
    )
    # breadcrumb array -> the parent value appended to the parent's array
    tail = dict(zip(_BREADCRUMB_COLS, ("parentguid", "_p_name", "_p_type")))
    ext = {
        c: F.when(
            F.col("_p_name").isNotNull(),
            F.concat(F.coalesce(F.col(f"_p_{c}"), F.array()), F.array(F.col(v))),
        ).otherwise(F.col(c))
        for c, v in tail.items()
    }
    return (
        children.join(F.broadcast(parents), "parentguid", "left")
        .withColumns(ext)
        .drop(*[f"_p_{c}" for c in _BREADCRUMB_COLS], "_p_name", "_p_type")
    )


def clear_breadcrumb(docs: DataFrame) -> DataFrame:
    """G11 delete_breadcrumb (synchronize_app_search.py:325-331): all three
    arrays -> [] and parentguid -> NULL (G10 delete_parent_guid :319-322)."""
    cleared = dict.fromkeys(_BREADCRUMB_COLS, F.array().cast("array<string>"))
    return docs.withColumns({"parentguid": F.lit(None).cast("string"), **cleared})


def descendants_of(docs: DataFrame, ancestor_guid: Column | str) -> DataFrame:
    """Q2 get_child_entity_docs (synchronize_app_search.py:101-115): every
    doc whose breadcrumb contains the guid — one scan, not a paged query."""
    return docs.filter(F.array_contains(F.col("breadcrumbguid"), ancestor_guid))


def insert_breadcrumb_prefix(
    descendants: DataFrame, guid: Column, name: Column, typename: Column
) -> DataFrame:
    """G12 (synchronize_app_search.py:231-244): prepend a new ancestor at
    index 0 of every descendant's breadcrumb unless already present.
    Deviation: writes ``breadcrumbguid`` (reference typo wrote a
    nonexistent ``breadcrumbguids`` field, :236)."""
    present = F.array_contains(F.col("breadcrumbguid"), guid)
    pre = lambda c, v: F.when(  # noqa: E731
        present, F.col(c)
    ).otherwise(F.concat(F.array(v), F.coalesce(F.col(c), F.array())))
    return descendants.withColumns(
        {c: pre(c, v) for c, v in zip(_BREADCRUMB_COLS, (guid, name, typename))}
    )


def delete_breadcrumb_prefix(descendants: DataFrame, guid: Column) -> DataFrame:
    """G13 (synchronize_app_search.py:247-260): cut every descendant's
    breadcrumb at the removed ancestor. Deviation (SURVEY §7.4): the
    ancestor itself is dropped too — ``slice`` starts *after* its
    position — where the reference's ``[guid_index::]`` kept it (and
    reused a stale index across the three arrays)."""
    pos = F.array_position(F.col("breadcrumbguid"), guid)  # 1-based, 0 = absent
    cut = lambda c: F.when(  # noqa: E731
        pos > 0,
        F.slice(F.col(c), pos + 1, F.greatest(F.size(F.col(c)) - pos, F.lit(0))),
    ).otherwise(F.col(c))
    return descendants.withColumns({c: cut(c) for c in _BREADCRUMB_COLS})


# --------------------------------------------------------------------------
# Derived-field maintenance (G14-G19)
# --------------------------------------------------------------------------

DERIVED_GUID_NAME_FIELDS: tuple[tuple[str, str], ...] = (
    # (guid-array field, index-aligned name-array field) pairs — the shape
    # of parameters.py:86-112's derived vocabulary.
    ("derivedentityguids", "derivedentitynames"),
)

DERIVED_SCALAR_FIELDS: tuple[str, ...] = (
    "deriveddataownerguid",
    "deriveddatastewardguid",
    "deriveddomainleadguid",
)

# the fields G15 copies down a parent link and G16 takes back
_INHERITED_FIELDS = (
    *DERIVED_SCALAR_FIELDS,
    *(c for pair in DERIVED_GUID_NAME_FIELDS for c in pair),
)


def _rewrite_from_parent(
    children: DataFrame, parent_docs: DataFrame, rewrite: Callable[[str], Column]
) -> DataFrame:
    """Set each ``_INHERITED_FIELDS`` column ``c`` of ``children`` to
    ``rewrite(c)``, which reads the parent doc's value as ``_p_<c>`` —
    one broadcast left join on ``parentguid`` for the whole batch."""
    parents = parent_docs.select(
        F.col("guid").alias("parentguid"),
        *[F.col(c).alias(f"_p_{c}") for c in _INHERITED_FIELDS],
    )
    return (
        children.join(F.broadcast(parents), "parentguid", "left")
        .withColumns({c: rewrite(c) for c in _INHERITED_FIELDS})
        .drop(*[f"_p_{c}" for c in _INHERITED_FIELDS])
    )


def inherit_derived_fields(children: DataFrame, parent_docs: DataFrame) -> DataFrame:
    """G15 update_derived_entiies (synchronize_app_search.py:284-289): on a
    new parent link, copy the parent's non-null derived fields down."""
    return _rewrite_from_parent(
        children, parent_docs, lambda c: F.coalesce(F.col(f"_p_{c}"), F.col(c))
    )


def uninherit_derived_fields(children: DataFrame, parent_docs: DataFrame) -> DataFrame:
    """G16 delete_derived_entities (synchronize_app_search.py:273-281): on
    parent-link delete, null out child fields that equal the parent's
    (arrays -> [], scalars -> NULL)."""
    def cleared(c: str) -> Column:
        empty = F.array().cast("array<string>")
        unset = F.lit(None) if c in DERIVED_SCALAR_FIELDS else empty
        return F.when(F.col(c).eqNullSafe(F.col(f"_p_{c}")), unset).otherwise(F.col(c))

    return _rewrite_from_parent(children, parent_docs, cleared)


def propagate_derived_fields(
    descendants: DataFrame, source_docs: DataFrame, ancestor_col: str = "ancestorguid"
) -> DataFrame:
    """G14 update_derived_entity_fields_of_child_entities
    (synchronize_app_search.py:263-270): copy EVERY ``derived*`` field
    of the changed doc onto each of its descendants, unconditionally —
    unlike G15's inherit, a NULL/empty source value overwrites too
    (the reference loops ``for key in doc: child_doc[key] = doc[key]``
    with no null guard).

    ``descendants`` carries ``ancestor_col`` naming the changed doc;
    sources are broadcast (one changed doc fans out to many
    descendants), so the whole set-at-a-time propagation is one
    broadcast join — no per-descendant point reads. The field list is
    every ``derived``-prefixed column of the source (the reference's
    ``key.startswith("derived")`` loop), so it covers the full doc
    schema (derivedperson/field/attribute guids included) as well as
    narrower projections.
    """
    derived_cols = [c for c in source_docs.columns if c.startswith("derived")]
    sel = [F.col("guid").alias(ancestor_col), F.lit(True).alias("_s_matched")]
    sel += [F.col(c).alias(f"_s_{c}") for c in derived_cols]
    joined = descendants.join(
        F.broadcast(source_docs.select(*sel)), ancestor_col, "left"
    )
    return joined.withColumns(
        {
            c: F.when(F.col("_s_matched"), F.col(f"_s_{c}")).otherwise(F.col(c))
            for c in derived_cols
        }
    ).drop("_s_matched", *[f"_s_{c}" for c in derived_cols])


def apply_attribute_field_linkage(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """G18/G19 define/delete_derived_entity_attribute_field_fields
    (synchronize_app_search.py:154-197): each (attribute, field) pair
    updates TWO docs — the attribute doc's ``derivedfieldguid`` /
    ``derivedfield`` and the field doc's ``deriveddataattributeguid`` /
    ``deriveddataattribute`` — set on link (``linked`` true), nulled on
    unlink (G19, :177-197).

    ``pairs`` columns: ``attribute_guid``, ``field_guid``, ``linked``.
    The reference resolves the counterpart doc with a point read per
    event (get_document, elastic.py:43-51); here both name lookups are
    one pass over the store with the (small) pair batch broadcast, and
    the two-sided update is a union of two projections applied through a
    single broadcast left join — the store is never shuffled. Pairs are
    assumed pre-collapsed per doc (D9 runs upstream); attribute and
    field guids are disjoint sets because they are distinct entity
    types.

    Deviation (SURVEY §7.4): the reference's field-side branch writes
    ``[field_guid]`` into ``deriveddataattributeguid`` (:169) — the
    intended ``[attribute_guid]`` is implemented.
    """
    names = docs.select("guid", "name")
    enriched = (
        names.select(
            F.col("guid").alias("attribute_guid"), F.col("name").alias("_attr_name")
        )
        .join(F.broadcast(pairs), "attribute_guid")
        .join(
            names.select(
                F.col("guid").alias("field_guid"), F.col("name").alias("_field_name")
            ),
            "field_guid",
        )
    )
    linked = F.col("linked")

    def side(name: str, guid: str, other_guid: str, other_name: str) -> DataFrame:
        return enriched.select(
            F.col(guid).alias("guid"),
            F.lit(name).alias("_side"),
            F.when(linked, F.array(F.col(other_guid))).alias("_u_guids"),
            F.when(linked, F.col(other_name)).alias("_u_name"),
        )

    updates = side("attr", "attribute_guid", "field_guid", "_field_name").unionByName(
        side("field", "field_guid", "attribute_guid", "_attr_name")
    )
    # doc field -> (the pair side that writes it, its update column)
    writes = {
        "derivedfieldguid": ("attr", "_u_guids"),
        "derivedfield": ("attr", "_u_name"),
        "deriveddataattributeguid": ("field", "_u_guids"),
        "deriveddataattribute": ("field", "_u_name"),
    }
    return (
        docs.join(F.broadcast(updates), "guid", "left")
        .withColumns(
            {
                c: F.when(F.col("_side") == s, F.col(u)).otherwise(F.col(c))
                for c, (s, u) in writes.items()
            }
        )
        .drop("_side", "_u_guids", "_u_name")
    )


# G17 role key -> (derived field it sets, whether it applies to domains)
_ROLE_FIELDS = {
    "domainLead": ("deriveddomainleadguid", True),
    "businessOwner": ("deriveddataownerguid", False),
    "dataSteward": ("deriveddatastewardguid", False),
}


def _role_hits(role_key: Column) -> dict[str, Column]:
    """Derived role field -> whether ``role_key`` names it on this doc:
    domainLead only on a domain, owner/steward only on anything else."""
    is_domain = F.col("typename") == "m4i_data_domain"
    return {
        field: (is_domain if on_domain else ~is_domain) & (role_key == key)
        for key, (field, on_domain) in _ROLE_FIELDS.items()
    }


def apply_governance_role(
    docs: DataFrame, role_key: Column, person_guid: Column
) -> DataFrame:
    """G17 update_governance_role_derived_entity_fields
    (synchronize_app_search.py:297-316): domainLead on a domain sets
    deriveddomainleadguid; businessOwner/dataSteward on entity/attribute
    set owner/steward; all add to derivedpersonguid. Deviation: the
    reference indexes a list with a string key (:309-314) — intended
    semantics implemented."""
    return docs.withColumns(
        {
            **{
                c: F.when(hit, person_guid).otherwise(F.col(c))
                for c, hit in _role_hits(role_key).items()
            },
            "derivedpersonguid": F.array_sort(
                F.array_union(
                    F.coalesce(F.col("derivedpersonguid"), F.array()),
                    F.array(person_guid),
                )
            ),
        }
    )


def remove_governance_role(
    docs: DataFrame, role_key: Column, person_guid: Column
) -> DataFrame:
    """G17 on the DELETE path (handle_deleted_relationships,
    synchronize_app_search.py:441-450): a removed governance-role
    relationship clears the matching derived scalar and drops the person
    from ``derivedpersonguid``. Deviation (SURVEY §7.4 style): the
    reference re-runs :297-316 against the post-delete entity, whose
    role list is now empty — so its loop body never executes and the
    stale person survives forever; the intended un-set semantics are
    implemented instead, guarded on the current value so an unrelated
    person in the same role is not clobbered."""
    roles = {
        c: F.when(
            hit & F.col(c).eqNullSafe(person_guid), F.lit(None).cast("string")
        ).otherwise(F.col(c))
        for c, hit in _role_hits(role_key).items()
    }
    # the person leaves derivedpersonguid only when no OTHER role still
    # names them after the clear: test the cleared expressions themselves
    still_named = reduce(
        operator.or_, [r.eqNullSafe(person_guid) for r in roles.values()]
    )
    return docs.withColumns(
        {
            **roles,
            "derivedpersonguid": F.when(
                still_named, F.col("derivedpersonguid")
            ).otherwise(
                F.array_remove(
                    F.coalesce(F.col("derivedpersonguid"), F.array()), person_guid
                )
            ),
        }
    )


# --------------------------------------------------------------------------
# Rename propagation (G20-G21)
# --------------------------------------------------------------------------

def rename_in_breadcrumbs(docs: DataFrame, guid: Column, new_name: Column) -> DataFrame:
    """G20 update_name_in_breadcrumbs (synchronize_app_search.py:598-636):
    in every referrer (Q4), replace the renamed entity's breadcrumbname
    slot. Deviation: position-matched through the guid array — the
    reference matched by old-name equality, which also renames unrelated
    same-named ancestors."""
    return docs.withColumn(
        "breadcrumbname",
        F.when(
            F.array_contains(F.col("breadcrumbguid"), guid),
            F.zip_with(
                F.col("breadcrumbguid"),
                F.col("breadcrumbname"),
                lambda g, n: F.when(g == guid, new_name).otherwise(n),
            ),
        ).otherwise(F.col("breadcrumbname")),
    )


def rename_in_derived_fields(
    docs: DataFrame, guid: Column, new_name: Column
) -> DataFrame:
    """G21 update_name_in_derived_entity_fields
    (synchronize_app_search.py:639-742): for each (guid-array,
    name-array) derived pair, rewrite the name at the renamed guid's
    index. The reference's 104-line 8-way type dispatch collapses into a
    loop over the field-pair mapping table."""
    return docs.withColumns(
        {
            nf: F.when(
                F.array_contains(F.col(gf), guid),
                F.zip_with(
                    F.col(gf),
                    F.col(nf),
                    lambda g, n: F.when(g == guid, new_name).otherwise(n),
                ),
            ).otherwise(F.col(nf))
            for gf, nf in DERIVED_GUID_NAME_FIELDS
        }
    )


# --------------------------------------------------------------------------
# Doc creation / attribute application (G22-G25)
# --------------------------------------------------------------------------

def extract_parent_guid(relationships: Column, self_type: Column) -> Column:
    """G22 get_parent_entity_guid (synchronize_app_search.py:749-764):
    first relationship whose key starts with 'parent'; else the single
    relationship whose target type equals hierarchy_mapping[self type]."""
    h = _hierarchy_map_col()
    # NULL relationships propagate through the map/array functions to a
    # NULL result, so no empty-map scaffolding is needed.
    parent_keyed = F.map_filter(relationships, lambda k, _: k.startswith("parent"))
    by_key = F.flatten(F.map_values(parent_keyed))
    by_type = F.filter(
        F.flatten(F.map_values(relationships)),
        lambda r: r.type_name.eqNullSafe(h[self_type]),
    )
    # try_element_at: NULL (not an ANSI error) when a candidate list is empty.
    return F.coalesce(
        F.try_element_at(by_key, F.lit(1)).guid,
        F.try_element_at(by_type, F.lit(1)).guid,
    )


def create_docs(messages: DataFrame, type_closure: DataFrame) -> DataFrame:
    """G23 create_doc (synchronize_app_search.py:565-592): a new doc per
    EntityCreated message — id/guid/qualifiedName/typename, sourcetype
    (G2), m4isourcetype (G3), supertypenames = closure + own type, name /
    definition / email copied from attributes, dq_score* zero-filled
    (:67-72). Deviation: the leaf type appears once in supertypenames
    (the reference appends it twice, :575-576)."""
    from ..functions.hierarchy import BUSINESS_SOURCE_TYPES, M4I_BASE_TYPES

    enriched = messages.join(F.broadcast(type_closure), on=(
        messages["type_name"] == type_closure["typename"]
    ), how="left").drop("typename")
    closure_and_self = F.array_sort(
        F.array_union(
            F.coalesce(F.col("supertypes"), F.array()),
            F.array(F.col("type_name")),
        )
    )
    attrs = F.col("new_value.attributes")  # NULL map -> NULL items, as intended
    empty = F.array().cast("array<string>")
    no_guids = F.lit(None).cast("array<string>")
    no_name = F.lit(None).cast("string")
    return enriched.select(
        F.col("guid").alias("id"),
        F.col("guid"),
        F.col("qualified_name").alias("referenceablequalifiedname"),
        F.col("type_name").alias("typename"),
        F.when(
            F.arrays_overlap(closure_and_self, F.lit(list(BUSINESS_SOURCE_TYPES))),
            F.lit("Business"),
        )
        .otherwise(F.lit("Technical"))
        .alias("sourcetype"),
        F.array_sort(
            F.array_intersect(closure_and_self, F.lit(list(M4I_BASE_TYPES)))
        ).alias("m4isourcetype"),
        closure_and_self.alias("supertypenames"),
        attrs["name"].alias("name"),
        attrs["definition"].alias("definition"),
        attrs["email"].alias("email"),
        extract_parent_guid(
            F.col("new_value.relationship_attributes"), F.col("type_name")
        ).alias("parentguid"),
        *[empty.alias(c) for c in _BREADCRUMB_COLS],
        *[no_name.alias(c) for c in DERIVED_SCALAR_FIELDS],
        empty.alias("derivedpersonguid"),
        *[empty.alias(c) for pair in DERIVED_GUID_NAME_FIELDS for c in pair],
        # linkage fields start unset — NULL is the kernel's unlinked state
        # (apply_attribute_field_linkage writes NULL on G19 unlink)
        no_guids.alias("derivedfieldguid"),
        no_name.alias("derivedfield"),
        no_guids.alias("deriveddataattributeguid"),
        no_name.alias("deriveddataattribute"),
        *[F.lit(0.0).alias(c) for c in DQ_SCORE_FIELDS],
    )


def apply_attribute_updates(docs: DataFrame, updates: DataFrame) -> DataFrame:
    """G24/G25 handle_updated/deleted_attributes
    (synchronize_app_search.py:491-562): copy whitelisted attributes
    (definition/email, :17) from the entity onto its doc; a name change
    also rewrites the doc's name (the breadcrumb/derived rename cascade
    G20/G21 runs over the store separately). ``updates`` columns: guid,
    name/definition/email (NULL = not touched), name_deleted (bool).
    Deviation: exact key matching (the reference's ``name in
    deleted_attribute`` string-membership bug, :550) and qualified-name
    fallback on name delete (:553) kept as intended semantics."""
    fields = ("name", "definition", "email", "name_deleted")
    u = updates.select("guid", *[F.col(c).alias(f"_u_{c}") for c in fields])
    return (
        docs.join(F.broadcast(u), "guid", "left")
        .withColumns(
            {
                "name": F.when(
                    F.coalesce(F.col("_u_name_deleted"), F.lit(False)),
                    F.col("referenceablequalifiedname"),
                )
                .when(F.col("_u_name").isNotNull(), F.col("_u_name"))
                .otherwise(F.col("name")),
                "definition": F.coalesce(F.col("_u_definition"), F.col("definition")),
                "email": F.coalesce(F.col("_u_email"), F.col("email")),
            }
        )
        .drop(*[f"_u_{c}" for c in fields])
    )


def collapse_last_writer_wins(updated_docs: DataFrame, order_col: str) -> DataFrame:
    """D9: repeated updates to one doc within a batch collapse to the
    last (synchronize_app_search.py:335,396,462,524,561) — a whole-row
    max over (order, row) instead of dict-overwrite order. Taking the
    max of ONE struct guarantees every output column comes from the same
    winning row (per-column ``max_by`` would mix rows on order ties) and
    makes ties deterministic via lexicographic row comparison — the
    batch answer cannot depend on task scheduling. Requires orderable
    column types only (APP_SEARCH_DOC has no maps)."""
    cols = [c for c in updated_docs.columns if c not in ("guid", order_col)]
    packed = updated_docs.groupBy("guid").agg(
        F.max(
            F.struct(F.col(order_col).alias("_o"), *[F.col(c).alias(c) for c in cols])
        ).alias("_m")
    )
    return packed.select("guid", *[F.col(f"_m.{c}").alias(c) for c in cols])
