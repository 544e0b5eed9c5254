"""Driver-facing query inventory.

Each submodule exposes ``QUERIES: dict[str, Callable[[SparkSession, str],
DataFrame]]`` and ``ORACLES: dict[str, str]`` (DuckDB ANSI SQL over the same
parquet views).

The driver's correctness gate checks a bounded number of queries (50 in
round 1), so the declared surface is curated: ``all_queries()`` returns
exactly the ``DRIVER_QUERIES`` set — one proof row per SURVEY §2 operator
family, merged where several trivial proofs shared a family (e.g.
``row_transform_suite`` = P2+P3+P4+P12+P13+P14). Every declared query has
an oracle and a CORRECTNESS row; nothing ships unverified.

The other registered queries are extras (``extra_queries()`` /
``extra_oracles()``), pinned by the local pytest gate
(tests/test_oracle_parity.py). An extra stays only while it proves a
path no declared row runs, or is a bench.py HEADLINE/HEAVY member;
COVERAGE.md's Proof cells map each operator to its proof, and
tests/test_coverage_doc.py fails on an extra listed beside a kept row
that its keep-list does not justify.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    analytic_windows,
    behavior,
    cdc,
    collocations,
    doc_lifecycle,
    doc_maintenance,
    entity_resolution,
    extended_relational,
    graph,
    graph_analytics,
    hybrid_retrieval,
    llm_corpus,
    llm_decontam,
    llm_dedup,
    llm_multimodal,
    llm_similarity,
    llm_text,
    lm_scoring,
    pipelines,
    profiling,
    quality_classifier,
    relational,
    sketches,
    state_store,
    streaming_like,
    text_ranking,
    warehouse,
)


_MODULES = (
    relational,
    extended_relational,
    cdc,
    state_store,
    graph,
    graph_analytics,
    hybrid_retrieval,
    doc_maintenance,
    doc_lifecycle,
    entity_resolution,
    streaming_like,
    pipelines,
    llm_dedup,
    llm_similarity,
    llm_text,
    lm_scoring,
    text_ranking,
    collocations,
    llm_corpus,
    llm_decontam,
    llm_multimodal,
    sketches,
    warehouse,
    analytic_windows,
    behavior,
    profiling,
    quality_classifier,
)

# The declared driver surface: every SURVEY §2 operator family has exactly
# one proof row here (see COVERAGE.md for the query -> operator-ID map).
# Order = priority order the driver walks; all entries fit the gate budget.
#
# How this surface got here is in COVERAGE.md: the "Driver-surface
# rotation log" (rounds 3-8), the round-9/10 STABLE surface sections and
# the "Post-debt stable-surface policy" (its data is
# queries/surface_policy.py). The rule citations stay inline below.
DRIVER_QUERIES: tuple[str, ...] = (
    # --- rule 1: the five §2-critical streaming proofs, always declared ---
    "stream_determine_change",
    "stream_synchronize_docstore",
    "stream_publish_state",
    "stream_dead_letter_box",
    "stream_determine_change_entities",
    # --- rule 3 (staleness backstop, fires for every §2 family at r9) ---
    # S sources/sinks
    "state_store_lookups",
    "store_filter_scan",
    "stream_get_entity_enrichment",
    "direct_change_classifier",
    "type_hierarchy_ops",
    # P row transforms
    "row_transform_suite",
    "attribute_flattening",
    # D diff kernels (attribute_diff / asof_previous_version rotated out
    # at r10 by rule 2 — the tool's top displacement candidates, each
    # green r1-r4 + r9; the family floor holds via the three rows below
    # and test_stable_surface_policy re-checks it)
    "diff_event_materialization",
    "doc_update_collapse",
    # Q state-store queries
    "point_lookup",
    "array_membership",
    "multi_field_or",
    "batched_multiget",
    "schema_introspection",
    "delete_by_id",
    # G graph/hierarchy maintenance (breadcrumb_materialization /
    # breadcrumb_prefix_ops / attribute_field_linkage rotated out at
    # r10 by rule 2 — candidates 3-5 in the tool's order, each green
    # r2-r4 + r9; the G floor stays 11-deep)
    "supertype_closure",
    "source_type_classification",
    "parent_type_lookup",
    "derived_field_lifecycle",
    "governance_role_update",
    "rename_propagation",
    "parent_guid_extraction",
    "doc_creation",
    "synchronize_rel_cascades",
    "stream_synchronize_appsearch_docs",
    # --- rule 1: one row per heavy LLM-pipeline family ---
    "neardup_components",
    "ivfpq_adc_topk",
    "quality_classifier_scores",
    "dsir_importance_resampling",
    "warc_text_pipeline",
    "embedding_pca_power",
    "hdr_histogram_quantiles",
    # --- rule 2: in-round r9 newcomers (each oracle-green at three SFs
    # on arrival), each displacing the head of the tool's --candidates
    # order at the time it landed ---
    # the chained four-job topology (get_entity -> publish_state /
    # determine_change -> synchronize over one accepted-event 'topic'),
    # surfaced as a six-surface invariant report whose oracle composes
    # the four jobs' batch oracles around the accepted-feed CTE; its
    # slot came from attribute_update_application (G24/G25 keep their
    # r1-r4 rows + the G-family floor stays 14-deep)
    "stream_chained_topology",
    # streaming twins of the r8 text gates (the r8 verdict's item 7):
    # the shared per-document kernels folded into the corpus-ingest
    # stream with doc-keyed exactly-once state; the batch oracles
    # oracle the streams. Slots came from q1_pricing_summary and
    # q5_region_revenue (next in the tool's displacement order; both
    # keep r1-r4 rows and stay pytest- and bench-pinned).
    "stream_gopher_quality",
    "stream_intra_doc_dedup",
    # the differential-privacy release pair: the two-sided-geometric
    # (discrete Laplace) mechanism over the (event_type, month)
    # histogram with integer-exact threshold-table noise, batch
    # (queries/profiling.py) and as additive maintained cells
    # (streaming/dp_state.py) — the fourth privacy gate beside the
    # k-anon/l-div/t-closeness audit triad. Slots came from
    # relationship_classification and session_windows (next in the
    # tool's displacement order; G5-G8 keep their r1-r4 rows and run
    # inside the declared stream_synchronize_appsearch_docs dispatch
    # every round, sessionization keeps stream_session_windows' r6 row).
    "dp_noisy_histogram",
    "stream_dp_release",
    # --- spare slots: strongest stale rows; each is the row rule 2
    # displaces FIRST (tool --candidates order) as r9 newcomers land ---
    "stream_dedup_within_watermark",
    "dedup_exact",
    "embedding_neardup_pairs",
    # --- rule 2: the r10 newcomer tranche — the five late-r9 additions
    # ledgered as never-attested in the r9 verdict (each oracle-green
    # at three SFs in pytest on arrival). Slots came from the tool's
    # r10 --candidates order: attribute_diff, asof_previous_version,
    # attribute_field_linkage, breadcrumb_materialization,
    # breadcrumb_prefix_ops (each green r1-r4 + r9, most redundantly
    # attested; D keeps a 3-row floor, G an 11-row floor —
    # tests/test_coverage_doc.py::test_stable_surface_policy re-checks
    # both post-rotation).
    "hybrid_rrf_retrieval",
    "stream_hybrid_rrf",
    "conformal_keep_gate",
    "stream_conformal_gate",
    "fellegi_sunter_bands",
)


def _merged_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        merged.update(mod.QUERIES)
    return merged


def _merged_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _MODULES:
        merged.update(mod.ORACLES)
    return merged


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The declared driver surface, in priority order."""
    merged = _merged_queries()
    missing = [n for n in DRIVER_QUERIES if n not in merged]
    if missing:
        raise ValueError(f"DRIVER_QUERIES not implemented: {missing}")
    return {name: merged[name] for name in DRIVER_QUERIES}


def all_oracles() -> dict[str, str]:
    merged = _merged_oracles()
    return {name: merged[name] for name in DRIVER_QUERIES if name in merged}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registered queries outside ``DRIVER_QUERIES`` (pytest-pinned;
    bench.py's HEADLINE/HEAVY rows draw on them too)."""
    merged = _merged_queries()
    return {n: fn for n, fn in merged.items() if n not in DRIVER_QUERIES}


def extra_oracles() -> dict[str, str]:
    merged = _merged_oracles()
    return {n: sql for n, sql in merged.items() if n not in DRIVER_QUERIES}
