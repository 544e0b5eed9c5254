"""Type-hierarchy / containment-graph functions (SURVEY §2.5, G1-G4, G9).

The reference resolves an entity type's supertype chain by recursive REST
calls per record (get_super_types, synchronize_app_search/synchronize_app_search.py:27-48)
and hard-codes the parent-containment map (HierarchyMapping.py:3-9). The
Spark design precomputes the **transitive closure** of the (tiny) type DAG
once with an iterative self-join in the driver, then broadcasts it — every
per-row recursive lookup becomes a broadcast-hash join.

Scale: the type DAG is O(100) rows regardless of data volume, so the
closure loop costs milliseconds and the broadcast is trivially small; the
100 TB fact stream never shuffles for type resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Direct supertype edges (child -> supertype). Mirrors the reference's
# Atlas EntityDef.super_types graph: the m4i base types and the
# m4i_kafka_field chain whose closure the reference's one live test pins
# to 4 entries (test__synchronize_app_search.py:22-29).
TYPE_EDGES: tuple[tuple[str, str], ...] = (
    ("m4i_kafka_field", "m4i_field"),
    ("m4i_field", "m4i_referenceable"),
    ("m4i_dataset", "m4i_referenceable"),
    ("m4i_collection", "m4i_referenceable"),
    ("m4i_system", "m4i_referenceable"),
    ("m4i_data_domain", "m4i_referenceable"),
    ("m4i_data_entity", "m4i_referenceable"),
    ("m4i_data_attribute", "m4i_referenceable"),
    ("m4i_person", "m4i_referenceable"),
    ("m4i_referenceable", "Referenceable"),
)

# Parent-containment map — HierarchyMapping.py:3-9 verbatim semantics:
# two parallel hierarchies (Business: domain/entity/attribute; Technical:
# system/collection/dataset/field).
HIERARCHY_MAPPING: dict[str, str] = {
    "m4i_data_entity": "m4i_data_domain",
    "m4i_data_attribute": "m4i_data_entity",
    "m4i_collection": "m4i_system",
    "m4i_dataset": "m4i_collection",
    "m4i_field": "m4i_dataset",
}

# The 7 base types (parameters.py:15-25) and the Business subset
# (get_source_type, synchronize_app_search.py:55-60).
M4I_BASE_TYPES: tuple[str, ...] = (
    "m4i_data_domain",
    "m4i_data_entity",
    "m4i_data_attribute",
    "m4i_field",
    "m4i_dataset",
    "m4i_collection",
    "m4i_system",
)
BUSINESS_SOURCE_TYPES: tuple[str, ...] = (
    "m4i_data_domain",
    "m4i_data_entity",
    "m4i_data_attribute",
)


def _py_closure(edges) -> dict[str, set[str]]:
    """Driver-side transitive closure of a STATIC type DAG: a
    fixpoint over the edge pairs, in plain Python.

    The type graph is compile-time data (TYPE_EDGES /
    HIERARCHY_MAPPING, O(10) rows); running the Spark fixpoint loop on
    it cost ~5-6 s of checkpoint/isEmpty jobs PER CALL — and the
    dispatcher queries, the streaming synchronize sinks and most
    docstore tests call it once per batch/invocation. Python computes
    it in microseconds and `local_frame` ships it as a LocalRelation,
    so every consumer's broadcast build reads plan-time local data.
    """
    anc: dict[str, set[str]] = {}
    for child, parent in edges:
        anc.setdefault(child, set()).add(parent)
    changed = True
    while changed:
        changed = False
        for child, parents in anc.items():
            extra = set()
            for p in parents:
                extra |= anc.get(p, set())
            if not extra <= parents:
                parents |= extra
                changed = True
    return anc


def supertype_closure_df(spark: SparkSession) -> DataFrame:
    """(typename, supertypes array<string> sorted) for every type that
    appears as a child in TYPE_EDGES. Broadcast this."""
    from ..operators.local_frame import local_frame

    anc = _py_closure(TYPE_EDGES)
    rows = [(t, sorted(s)) for t, s in sorted(anc.items())]
    return local_frame(
        spark, rows, "typename string, supertypes array<string>"
    )


def breadcrumb_paths_df(spark: SparkSession) -> DataFrame:
    """G9 over the static containment map: for each type, the ancestor
    type path root→parent (the shape of ``breadcrumbtype`` arrays,
    synchronize_app_search.py:467-482).

    Ordering: an ancestor closer to the root has fewer ancestors of its
    own, so sorting each type's ancestors by their own ancestor-count
    (ascending) yields the root→parent path.
    """
    from ..operators.local_frame import local_frame

    anc = _py_closure(HIERARCHY_MAPPING.items())
    rows = [
        (
            t,
            [
                a
                for _, a in sorted(
                    (len(anc.get(a, ())), a) for a in ancestors
                )
            ],
        )
        for t, ancestors in sorted(anc.items())
    ]
    return local_frame(
        spark, rows, "typename string, breadcrumbtype array<string>"
    )
