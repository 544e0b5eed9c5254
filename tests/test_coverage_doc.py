"""COVERAGE.md must stay in sync with the live query inventory."""

from __future__ import annotations

import os
import re

from m4i_flink_tasks_spark.queries import (
    all_oracles,
    all_queries,
    extra_oracles,
    extra_queries,
)

_DOC = os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")


def test_every_query_is_documented():
    text = open(_DOC).read()
    registered = {**all_queries(), **extra_queries()}
    missing = [n for n in registered if n not in text]
    assert not missing, f"queries absent from COVERAGE.md: {missing}"


def test_documented_query_names_exist():
    """Any snake_case backticked token that looks like a query name and
    ends up stale (renamed/removed query) should fail here."""
    text = open(_DOC).read()
    known = set(all_queries()) | set(extra_queries())
    candidates = set(re.findall(r"`([a-z][a-z0-9_]{3,})`", text))
    # names that collide with the query naming style but are files/dirs
    lexicon = {c for c in candidates if "/" not in c and "." not in c}
    stale = {
        c
        for c in lexicon
        if c not in known
        # non-query identifiers legitimately mentioned in the doc
        and not c.startswith(("spark", "read", "write", "max", "merge"))
        and c
        not in {
            "queries",
            "oracle_sql",
            "descendants_of",
            "classify_relationship",
            "orient_parent_child",
            "define_breadcrumb",
            "clear_breadcrumb",
            "inherit_derived_fields",
            "apply_attribute_field_linkage",
            "apply_attribute_updates",
            "extract_parent_guid",
            "create_docs",
            "rename_in_derived_fields",
            "remove_governance_role",
            "propagate_derived_fields",
            "clear",
            "propagate",
            "map_filter",
            "transform_keys",
            "concat_ws",
            "connected_components",
            "levenshtein",
            "from_json",
            "to_json",
            "map_zip_with",
            "probe_topk",
            "run_stream_ann_index",
            "encode_vocab",
            "bpe_token_counts",
            "es_keyed",
            "run_incremental_with_retractions",
            "run_backfill_then_stream",
            "kafka_events_stream",
            "kafka_events_writer",
            "parse_kafka_events",
            "array_except",
            "array_intersect",
            "max_by",
            "schema",
            "word_entropy",
            "demux_mp3",
            "demux_ogg",
            "demux_mp4",
            "demux_webm",
            "synth_flac",
            "demux_flac",
            "f2_report_from_counts",
            "current_for_keys",
            "extract_warc_html",
            "run_stream_warc_text",
            "wet_gate_records",
            "attach_corrupted_warc_payload",
            "extract_warc_with_quarantine",
            "run_stream_warc_quarantine",
            "compaction_plan_from_inventory",
            "corr_from_moments",
            "candidate_pairs_with_shingles",
            "ngram_containment_pairs",
            "frame_energies",
            "energy_segments",
            "run_stream_rate_anomalies",
            "pca_readout",
            "zipf_from_freqs",
            "mapInPandas",
            "pandas_udf",
            "percentile",
            "percentile_approx",
            "quantile_cont",
            "array_join",
            "noise_ratio",
            "noise_normalized_value",
            "signature_frame",
            "gopher_report",
            "span_dedup_report",
            "bm25_from_index",
        }
    }
    assert not stale, f"stale names in COVERAGE.md: {sorted(stale)}"


# Queries without a DuckDB oracle. EMPTY since round 4: even the
# iterative BPE trainer has a recursive-CTE twin (BPE_MERGE_SQL), so
# every registered query — declared or extra — is hash-matched. Keep
# the machinery so a future genuinely-inexpressible op fails loudly
# here instead of shipping unverified.
_NON_SQL_EXPRESSIBLE: set[str] = set()


def test_all_queries_have_oracles():
    assert set(all_queries()) == set(all_oracles())
    assert set(extra_queries()) - _NON_SQL_EXPRESSIBLE == set(
        extra_oracles()
    )
    # every exception must still be a registered, runnable query
    assert _NON_SQL_EXPRESSIBLE <= set(extra_queries())


def test_stable_surface_policy():
    """The declared surface must satisfy the post-debt STABLE surface
    policy (COVERAGE.md; data in queries/surface_policy.py) — rule 1's
    streaming-critical core and per-family floors, and rule 3's
    staleness backstop. This is the r8 verdict's 'Next round' #8: the
    policy rules machine-checked the way the debt ledger already is,
    so a future rotation cannot silently drop the core."""
    import glob
    import json
    import re

    from m4i_flink_tasks_spark.queries import DRIVER_QUERIES
    from m4i_flink_tasks_spark.queries.surface_policy import (
        HEAVY_LLM_FAMILIES,
        SECTION2_FAMILIES,
        STREAMING_CRITICAL,
        stale_families,
    )

    declared = set(DRIVER_QUERIES)
    registered = set(all_queries()) | set(extra_queries())

    # policy data must only name real registry rows
    policy_rows = set(STREAMING_CRITICAL)
    for members in (*SECTION2_FAMILIES.values(), *HEAVY_LLM_FAMILIES.values()):
        policy_rows.update(members)
    unknown = policy_rows - registered
    assert not unknown, f"surface_policy names unregistered rows: {unknown}"

    # rule 1: streaming-critical rows always declared
    missing_core = set(STREAMING_CRITICAL) - declared
    assert not missing_core, (
        f"rule 1 violated: streaming-critical rows undeclared: {missing_core}"
    )

    # rule 1: at least one declared row per §2 family and per heavy
    # LLM family (the streaming-critical rows may satisfy a family too)
    for fam, members in {**SECTION2_FAMILIES, **HEAVY_LLM_FAMILIES}.items():
        assert declared & set(members), (
            f"rule 1 violated: family {fam} has no declared row"
        )

    # rule 3: any stale §2 family must hold a declared member (implied
    # by the floor above, but assert through the policy's own
    # computation so the trigger logic itself stays exercised)
    root = os.path.dirname(_DOC)
    green: dict[str, list[int]] = {}
    latest = 0
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnum = int(re.search(r"_r(\d+)\.json$", path).group(1))
        latest = max(latest, rnum)
        for name, rec in json.load(open(path)).items():
            if (
                isinstance(rec, dict)
                and rec.get("rows_match")
                and rec.get("schema_match")
            ):
                green.setdefault(name, []).append(rnum)
    for fam in stale_families(green, latest + 1):
        assert declared & set(SECTION2_FAMILIES[fam]), (
            f"rule 3 violated: stale family {fam} re-entered no row"
        )


def test_attestation_debt_arithmetic():
    """COVERAGE.md's attestation-debt ledger must equal the numbers
    recomputed from the recorded CORRECTNESS_r*.json files and the live
    registry (r5 verdict 'What's wrong' #1: the doc drifted once; this
    pins it).

    The ledger names the round it predicts ("after CORRECTNESS_rNN comes
    back green"); "before" counts only files from STRICTLY EARLIER rounds,
    so the gate stays green both before and after the driver writes the
    current round's file (r6 verdict 'What's wrong' #1: the old version
    globbed every file on disk, so it went red the moment the round's own
    CORRECTNESS landed)."""
    import glob
    import json
    import re

    from m4i_flink_tasks_spark.queries import DRIVER_QUERIES

    text = open(_DOC).read()
    m = re.search(
        r"never-attested after CORRECTNESS_r(\d+) comes back green", text
    )
    assert m, "COVERAGE.md is missing the attestation-debt ledger"
    this_round = int(m.group(1))

    root = os.path.dirname(_DOC)
    green: set[str] = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnum = int(re.search(r"_r(\d+)\.json$", path).group(1))
        if rnum >= this_round:
            continue
        for name, rec in json.load(open(path)).items():
            if (
                isinstance(rec, dict)
                and rec.get("rows_match")
                and rec.get("schema_match")
            ):
                green.add(name)
    registered = set(all_queries()) | set(extra_queries())
    never = registered - green
    after_this_round = never - set(DRIVER_QUERIES)
    expected_lines = [
        f"registered queries: {len(registered)}",
        f"never-attested before this round's driver run: {len(never)}",
        f"never-attested after CORRECTNESS_r{this_round:02d} comes back "
        f"green: {len(after_this_round)}",
    ]
    for line in expected_lines:
        assert line in text, (
            f"COVERAGE.md debt ledger is stale: expected {line!r}; "
            f"recomputed registered={len(registered)} never={len(never)} "
            f"after={len(after_this_round)}"
        )


# Extras a COVERAGE.md Proof cell may still list beside a kept row (a
# declared row or a bench.py HEADLINE/HEAVY member), one reason each.
# Any other extra there is a second proof of an operator path a kept
# row already runs: delete the query, or add it here with the path
# that only it runs.
_PROOF_KEEP = {
    "asof_join_orders_events": (
        "only registered caller of operators/asof.asof_join; the kept D8 "
        "rows use a lag window"
    ),
    "breadcrumb_paths": "only caller of functions.hierarchy.breadcrumb_paths_df",
    "dedup_minhash_signatures": (
        "only caller of the expression forms operators/dedup.shingle_hashes "
        "and minhash_signature; dedup_ngram_jaccard runs the Arrow kernel"
    ),
    "duplicate_span_stats": "the batch reference tests/test_span_state.py checks the stream against",
    "lm_head_sample": (
        "only row that gates the LM scorer with operators/text.scrambled_hash; "
        "ngram_lm_perplexity never calls it"
    ),
    "stream_hdr_quantiles": "streaming twin; its kept row is batch",
    "stream_ivfpq_probe": "streaming twin; its kept row is batch",
    "stream_windowed_aggregation": "streaming twin; its kept rows are batch",
}


def test_no_redundant_proof_beside_a_kept_row():
    """Each operator path keeps one proof: no Proof cell in COVERAGE.md's
    §2 and extension tables lists an extra next to a kept row unless
    the extra is on ``_PROOF_KEEP``."""
    import bench
    from m4i_flink_tasks_spark.queries import DRIVER_QUERIES

    kept = set(DRIVER_QUERIES) | set(bench.HEADLINE) | set(bench.HEAVY)
    extras = set(extra_queries()) - kept
    assert set(_PROOF_KEEP) <= extras, "keep-list entries must be live extras"
    text = open(_DOC).read()
    redundant = []
    for line in text[text.index("## §2.1"):].splitlines():
        if not line.startswith("|") or line.startswith("|---"):
            continue
        proof = line.strip().strip("|").split("|")[-1]
        names = re.findall(r"`([a-z][a-z0-9_]+)`", proof)
        if kept & set(names):
            redundant += [
                n for n in names if n in extras and n not in _PROOF_KEEP
            ]
    assert not redundant, (
        f"extras listed beside a kept row in a Proof cell: {sorted(redundant)}"
    )
