"""The post-debt STABLE surface policy (COVERAGE.md, declared r8) as
machine-readable data.

Three rules choose each round's declared driver surface once the
attestation debt is zero (CORRECTNESS_r08):

1. **Stable core** — the four §2-critical streaming proofs are always
   declared, every SURVEY §2 family (S sources/sinks, P row
   transforms, D diff kernels, Q state-store queries, G
   graph/hierarchy) keeps at least one declared row, and every heavy
   LLM-pipeline family (the rows a real user exercises most) keeps
   one.
2. **Newcomers always enter the next surface**, displacing the
   non-protected row whose operator family is most redundantly
   attested (most distinct green rounds, ties by most recent round).
3. **Staleness backstop** — if a §2 family's newest green driver row
   is more than ``STALE_AFTER_ROUNDS`` rounds old, its strongest row
   re-enters the surface ahead of rule-2 displacement order.

``tools/attestation_report.py`` evaluates these rules against the
recorded CORRECTNESS files; ``tests/test_coverage_doc.py`` pins them
so a future rotation cannot silently drop the core.

This file is pure data + tiny pure functions — no Spark imports — so
both the tool and the test suite can load it without a session.
"""

from __future__ import annotations

STALE_AFTER_ROUNDS = 4

# Rule 1: the §2-critical streaming proofs, never displaced while the
# policy stands. stream_determine_change_entities carries the ONLY
# driver proof of the D5/D6 relationship-diff kernels (COVERAGE.md
# §2.3), so it is core alongside the four named in the policy prose.
STREAMING_CRITICAL: tuple[str, ...] = (
    "stream_determine_change",
    "stream_synchronize_docstore",
    "stream_publish_state",
    "stream_dead_letter_box",
    "stream_determine_change_entities",
)

# Rule 1 + rule 3: every §2 family's STANDALONE driver-capable rows
# (the Proof column of COVERAGE.md's §2.1-§2.5 tables, minus the
# STREAMING_CRITICAL set — those are declared by rule 1 every round
# regardless, so counting their freshness here would let a family's
# standalone proofs go stale invisibly; rule 3 exists precisely to
# keep the standalone proofs fresh). A family's attestation age =
# rounds since the newest green driver row among its members; the
# backstop fires per family, not per row.
SECTION2_FAMILIES: dict[str, tuple[str, ...]] = {
    "S_sources_sinks": (
        "state_store_lookups",
        "store_filter_scan",
        "stream_get_entity_enrichment",
        "direct_change_classifier",
        "type_hierarchy_ops",
        "stream_vacuum_plan",
    ),
    "P_row_transforms": (
        "row_transform_suite",
        "attribute_flattening",
        "diff_event_materialization",
        "direct_change_classifier",
        "orc_interchange_read",
    ),
    "D_diff_kernels": (
        "attribute_diff",
        "diff_event_materialization",
        "asof_previous_version",
        "latest_version_per_key",
        "asof_join_orders_events",
        "doc_update_collapse",
        "stream_synchronize_appsearch_docs",
    ),
    "Q_state_store": (
        "state_store_lookups",
        "point_lookup",
        "store_filter_scan",
        "array_membership",
        "multi_field_or",
        "rename_propagation",
        "batched_multiget",
        "schema_introspection",
        "delete_by_id",
    ),
    "G_graph_hierarchy": (
        "type_hierarchy_ops",
        "supertype_closure",
        "source_type_classification",
        "parent_type_lookup",
        "relationship_classification",
        "breadcrumb_paths",
        "breadcrumb_prefix_ops",
        "breadcrumb_prefix_delete",
        "derived_field_lifecycle",
        "governance_role_update",
        "attribute_field_linkage",
        "rename_propagation",
        "parent_guid_extraction",
        "doc_creation",
        "synchronize_rel_cascades",
        "stream_synchronize_appsearch_docs",
    ),
}

# Rule 1: the heavy LLM-pipeline families — one declared row each.
HEAVY_LLM_FAMILIES: dict[str, tuple[str, ...]] = {
    "minhash_lsh_dedup": (
        "neardup_components",
        "dedup_minhash_signatures",
        "dedup_ngram_jaccard",
        "dedup_exact",
    ),
    "pq_ivfpq_serving": (
        "ivfpq_adc_topk",
        "pq_adc_topk",
        "stream_ivfpq_probe",
        "stream_pq_adc_topk",
    ),
    "quality_classifier": (
        "quality_classifier_scores",
        "classifier_auc_report",
        "classifier_calibration_report",
    ),
    "dsir": ("dsir_importance_resampling",),
    "warc_capstone": (
        "warc_text_pipeline",
        "stream_warc_text_pipeline",
    ),
    "embedding_pca": (
        "embedding_pca_power",
        "pca_projection_scores",
        "stream_embedding_pca",
    ),
    "hdr_sketch": (
        "hdr_histogram_quantiles",
        "stream_hdr_quantiles",
    ),
}


def family_green_rounds(
    green: dict[str, list[int]], members: tuple[str, ...]
) -> list[int]:
    """All rounds in which any member of a family held a green row."""
    out: set[int] = set()
    for name in members:
        out.update(green.get(name, ()))
    return sorted(out)


def stale_families(
    green: dict[str, list[int]], current_round: int
) -> dict[str, int]:
    """§2 families whose newest green driver row is more than
    ``STALE_AFTER_ROUNDS`` rounds old at ``current_round`` — rule 3
    fires for these. Returns family -> newest green round."""
    out: dict[str, int] = {}
    for fam, members in SECTION2_FAMILIES.items():
        rounds = family_green_rounds(green, members)
        newest = max(rounds) if rounds else 0
        if current_round - newest > STALE_AFTER_ROUNDS:
            out[fam] = newest
    return out


def protected_rows(
    declared: tuple[str, ...],
    green: dict[str, list[int]] | None = None,
    current_round: int | None = None,
) -> set[str]:
    """Declared rows rule 2 may NOT displace: the streaming-critical
    set, any declared row that is a family's ONLY declared member
    (displacing it would break rule 1's one-per-family floor), and —
    when the attestation ledger is supplied — the declared members of
    any §2 family whose staleness backstop is live (rule 3 says those
    rows re-enter "ahead of rule-2 displacement order", so they cannot
    be displaced in the same round they re-enter)."""
    out = set(STREAMING_CRITICAL)
    declared_set = set(declared)
    for members in (
        *SECTION2_FAMILIES.values(),
        *HEAVY_LLM_FAMILIES.values(),
    ):
        on_surface = [m for m in members if m in declared_set]
        if len(on_surface) == 1:
            out.add(on_surface[0])
    if green is not None and current_round is not None:
        for fam in stale_families(green, current_round):
            out.update(set(SECTION2_FAMILIES[fam]) & declared_set)
    return out & declared_set
