"""Physical-plan regression tests — the 100 TB scale posture, enforced.

Correctness tests prove the answers match; these prove the *plans* are
the ones that survive a 1000-executor cluster: dimension joins broadcast
instead of shuffling the fact side, filters and projections reach the
parquet scan, and no query falls back to row-at-a-time Python
(``BatchEvalPython``) — the only sanctioned Python path is Arrow-batched
(``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` /
``FlatMapGroupsInPandasWithState`` / ``MapInPandas``).

Plan construction is analysis-only (nothing executes), so this suite is
cheap at any scale factor. Streaming pipeline queries are excluded: they
run a full micro-batch job on invocation and their batch-side plans are
covered by the kernels they share with the batch inventory.
"""

from __future__ import annotations

import pytest

from m4i_flink_tasks_spark.queries import all_queries, extra_queries


def _registered():
    return {**all_queries(), **extra_queries()}


# Queries whose invocation executes a streaming job rather than just
# building a plan — plan-shape is asserted on their batch kernels above.
_STREAMING = tuple(
    n for n in _registered() if n.startswith("stream_")
)

# Batch queries whose CONSTRUCTION runs a side-effecting staging job —
# excluded to keep this suite analysis-only; their read-side pruning
# behavior is pinned in their own behavior tests. (The bucketed SMB
# join also writes at construction but its no-exchange pin lives here,
# so it stays — its write is the point of the pin.)
_EXECUTES_ON_BUILD = ("manifest_partition_pruning", "orc_interchange_read")


def plan_of(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = _registered()
    return {
        name: plan_of(fn(spark, sf_dir))
        for name, fn in qs.items()
        if name not in _STREAMING and name not in _EXECUTES_ON_BUILD
    }


def test_no_row_at_a_time_python(plans):
    """Every Python escape hatch must be Arrow-batched; a BatchEvalPython
    node means a per-row pickle round-trip that is ~10-100x slower and
    breaks whole-stage codegen around it."""
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, f"row-at-a-time Python UDF in: {offenders}"


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_region_revenue",
    ],
)
def test_star_joins_broadcast(plans, name):
    """TPC-H-shaped star joins must broadcast every dimension; a
    SortMergeJoin here would shuffle the lineitem/orders fact side on
    the join key — the classic 100 TB bottleneck."""
    plan = plans[name]
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"
    assert "SortMergeJoin" not in plan, f"{name}: fact-side shuffle join"


@pytest.mark.parametrize(
    ("name", "fragment"),
    [
        # Point lookup pushes the key equality into the parquet reader.
        ("point_lookup", "EqualTo(doc_id,42)"),
        # Q6's date-range + discount/quantity predicates reach the scan.
        ("q6_forecast_revenue", "GreaterThanOrEqual(l_discount"),
        # The IN-list multiget pushes membership down.
        ("batched_multiget", "In(doc_id"),
    ],
)
def test_filters_pushed_to_scan(plans, name, fragment):
    plan = plans[name]
    assert "PushedFilters: [" in plan, f"{name}: no pushdown section"
    assert fragment in plan, f"{name}: expected pushed filter {fragment!r}"


def test_column_pruning_reaches_scan(plans):
    """q1 aggregates 7 lineitem columns; the 44-char l_comment column
    must not be read — a scan without pruning reads ~2x the bytes."""
    plan = plans["q1_pricing_summary"]
    read_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert read_schemas, "no ReadSchema in plan"
    assert all("l_comment" not in line for line in read_schemas)


def test_whole_stage_codegen_on_hot_aggregates(spark, sf_dir):
    """The scan->filter->project->partial-agg pipeline of q1/q6 must fuse
    into WholeStageCodegen spans (SURVEY §4.2: keep expressions
    JVM-side). AQE's pre-execution formatted plan hides codegen
    boundaries, so probe the codegen explain mode instead."""
    qs = _registered()
    for name in ("q1_pricing_summary", "q6_forecast_revenue"):
        df = qs[name](spark, sf_dir)
        df.collect()  # AQE finalizes (and codegen-compiles) on execution
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, name
        # '*(n)' prefixes mark operators fused into a WholeStageCodegen
        # stage; the scan->agg pipeline must carry at least one.
        assert "*(" in final, f"{name}: no WholeStageCodegen stage:\n{final}"


def test_metadata_pruning_drops_payload_synthesis(plans):
    """The metadata-only multimodal query must not execute the binary
    payload synthesis UDF at all — column pruning has to remove the
    unused payload column so the scan reads only (doc_id, n_chars)."""
    plan = plans["multimodal_metadata_pruning"]
    assert "ArrowEvalPython" not in plan, "payload UDF not pruned"
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and all(
        "text" not in l and "doc_id" in l for l in read_schemas
    ), f"scan reads more than metadata: {read_schemas}"


def test_set_operations_single_membership_pass(plans):
    """UNION/INTERSECT/EXCEPT counts over the same two key sets must
    come from ONE membership-flag aggregation, not three physical set
    operators (the naive form re-scans each input three times and
    planned 13 exchanges)."""
    tree = plans["set_operations"].split("\n\n")[0]
    n = tree.count("Exchange")
    assert n <= 5, f"set_operations regressed to {n} exchanges:\n{tree}"


def test_asof_join_is_single_shuffle_union(plans):
    """The as-of join must use the union-then-window trick: ONE shuffle
    co-partitions both sides by key, no SortMergeJoin of the full
    tables, no nested-loop range join."""
    tree = plans["asof_join_orders_events"].split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" not in tree
    assert "SortMergeJoin" not in tree
    n = tree.count("Exchange")
    assert n <= 2, f"asof join should shuffle once (+final sort), got {n}:\n{tree}"


@pytest.mark.parametrize("name", ["rollup_order_totals", "cube_lineitem_stats"])
def test_grouping_sets_use_expand_not_replans(plans, name):
    """ROLLUP/CUBE must be one Expand + one aggregate shuffle — not a
    union of per-grouping re-aggregations."""
    tree = plans[name].split("\n\n")[0]
    assert "Expand" in tree, f"{name}: no Expand node"
    n = tree.count("Exchange")
    assert n <= 2, f"{name}: {n} exchanges (expect agg + final sort)"


def test_dispatcher_has_no_nested_loop_joins(spark):
    """Every Q2 descendant/referrer walk in the job-4 dispatcher must
    plan as an exploded-edge HASH join; an array_contains theta-join
    becomes a BroadcastNestedLoopJoin evaluating |docs| x |keys|
    predicates per micro-batch — the job's real scale hazard."""
    from m4i_flink_tasks_spark.functions.hierarchy import supertype_closure_df
    from m4i_flink_tasks_spark.plans import synchronize_batch

    from .test_docstore import make_docs
    from .test_synchronize_plan import _entity, _rel, make_messages

    store = make_docs(
        spark,
        dict(guid="d1", typename="m4i_data_domain", name="D",
             referenceablequalifiedname="qn://d1"),
        dict(guid="e1", typename="m4i_data_entity", name="E",
             referenceablequalifiedname="qn://e1", breadcrumbguid=["d1"],
             breadcrumbname=["D"], breadcrumbtype=["m4i_data_domain"]),
    )
    msgs = make_messages(
        spark,
        dict(guid="d1", type_name="m4i_data_domain",
             event_type="EntityAttributeAudit", changed_attributes=["name"],
             new_value=_entity("d1", "m4i_data_domain", {"name": "DX"})),
        dict(guid="d1", type_name="m4i_data_domain",
             event_type="EntityRelationshipAudit",
             inserted_relationships={"domainLead": [_rel("p7", "m4i_person")]}),
        dict(guid="e1", type_name="m4i_data_entity",
             event_type="EntityRelationshipAudit",
             deleted_relationships={"parentDomain": [_rel("d1", "m4i_data_domain")]}),
    )
    ups, _dels = synchronize_batch(msgs, store, supertype_closure_df(spark))
    tree = plan_of(ups).split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" not in tree, (
        "descendant walk regressed to a nested-loop join"
    )


def test_entity_differ_batch_plan_is_jvm_native(spark, sf_dir):
    """The streaming entity differ's per-batch plan (entity_view ->
    window lag -> D1-D6 kernels) must be pure column expressions: no
    Python evaluation node of ANY kind, one shuffle for the per-key
    window. This is the r2 verdict's second structural ask — the diff
    math runs where the batch `attribute_diff` kernels run, in
    codegen."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from m4i_flink_tasks_spark.sources import load_table
    from m4i_flink_tasks_spark.streaming.determine_change import (
        entity_diff_columns,
        entity_view,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts_ms", F.unix_millis("ts")
    )
    ev = entity_view(events).withColumn("is_seed", F.lit(0))
    w = Window.partitionBy("user_id").orderBy(F.desc("is_seed"), "ts_ms", "event_id")
    lagged = ev.select(
        "*",
        F.lag("attrs").over(w).alias("prev_attrs"),
        F.lag("rels").over(w).alias("prev_rels"),
    ).filter(F.col("is_seed") == 0)
    plan = plan_of(entity_diff_columns(lagged))
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                 "MapInPandas"):
        assert node not in plan, f"Python node {node} in entity-differ plan"
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1, f"entity differ should shuffle once:\n{tree}"


def test_exactly_one_aggregate_exchange_for_q1(plans):
    """q1 needs one shuffle (partial->final agg) plus the final
    single-partition sort; any additional Exchange is a regression."""
    plan = plans["q1_pricing_summary"].split("\n\n")[0]
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, f"q1 has {n_exchanges} exchanges:\n{plan}"


def test_bloom_screen_stays_broadcast(plans):
    """The position set (<= m rows) and the dim must broadcast; a
    sort-merge join here means the screen itself started shuffling the
    fact table."""
    plan = plans["bloom_semijoin_reduction"]
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_lm_scoring_broadcasts_the_model(plans):
    """Bigram-LM pass 2: the unigram dimension broadcasts as a hash
    join and the 1-row vocab-size scalar broadcasts as the standard
    one-row nested-loop (the correct scalar-subquery shape — bounded by
    the join count, never corpus x corpus); the bigram-keyed join is
    the only shuffle. SortMergeJoin would mean the token stream got
    re-shuffled against a dimension."""
    for name in ("ngram_lm_perplexity", "lm_head_sample"):
        plan = plans[name]
        assert plan.count("BroadcastHashJoin") >= 2, name
        # only the single-row vocab scalar may nested-loop
        assert plan.count("BroadcastNestedLoopJoin") <= 2, name
        assert "SortMergeJoin" not in plan, name


def test_span_dedup_has_no_expand_and_single_hash_kernel(plans):
    """The span family's aggregates must be plain hash aggregates —
    the count+count_distinct Expand (measured 8.2x at the sf1
    rehearsal before the two-level rewrite) must not come back."""
    plan = plans["duplicate_span_stats"]
    assert "Expand" not in plan, "duplicate_span_stats: distinct-agg Expand returned"
    assert "HashAggregate" in plan


def test_pq_broadcasts_codebook_never_corpus(plans):
    """Every PQ join (seed centroids, refined centroids, ADC lookup
    table) attaches a dimension-sized relation — all broadcast. A
    SortMergeJoin would mean the corpus got shuffled against the
    codebook; a nested loop would mean a cross join snuck in."""
    for name in ("pq_encode", "pq_adc_topk"):
        plan = plans[name]
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_quality_classifier_weight_table_broadcasts(plans):
    """The 2^16-row weight relation must broadcast (256 KB by
    construction); a sort-merge join would shuffle the corpus-sized
    feature stream against the model."""
    plan = plans["quality_classifier_scores"]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_is_cluster_keyed_never_cartesian(plans):
    """SemDeDup's pairwise stage must be an equi-join on the cluster id
    — a nested-loop or cartesian node would mean corpus-O(n^2) pairwise
    cosine, exactly what the cluster scoping exists to prevent."""
    plan = plans["semantic_dedup"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multiprobe_probe_set_broadcasts(plans):
    """The XOR-derived probe set is b+1 rows from the one-row query —
    it must broadcast against the bucketed corpus, and the rerank must
    be a TakeOrdered, not a global sort."""
    plan = plans["ann_multiprobe_topk"]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ann_recall_join_is_small_side_broadcast(plans):
    """recall@k intersects two k-row result sets — the intersection must
    be a broadcast hash join and nothing may fall to a cartesian. The
    single BroadcastNestedLoopJoin is the sanctioned one-row
    query-vector attach inside brute_force_topk (broadcast cross of a
    1-row frame — the correct brute-force shape per the r3 audit)."""
    plan = plans["ann_recall_at_k"]
    assert "CartesianProduct" not in plan
    assert plan.count("Join type: Cross") == 1
    assert "BroadcastHashJoin" in plan


def test_container_demux_is_arrow_batched_only(plans):
    """The demux pipeline crosses to Python exactly twice (payload
    synthesis + demux), both Arrow-batched; the global BatchEvalPython
    test covers the row-at-a-time case, this pins the batch operators
    actually present."""
    plan = plans["multimodal_container_demux"]
    assert "MapInPandas" in plan
    assert "ArrowEvalPython" in plan


def test_dsir_ratio_table_broadcasts(plans):
    """DSIR's 2^12-row log-ratio relation must broadcast against the
    corpus-sized feature stream; a sort-merge join here would shuffle
    every hashed feature against a dimension table."""
    plan = plans["dsir_importance_resampling"]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_containment_shares_the_lsh_candidate_shape(plans):
    """Containment scoring must keep the Jaccard pass's plan posture:
    band-bucket equi-join candidates, no quadratic fallback."""
    plan = plans["dedup_ngram_containment"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan  # the MinHash signature kernel


def test_audio_spectral_is_map_only_arrow(plans):
    """Decode + rFFT must stay in ONE Arrow-batched map stage; the
    only exchange allowed is the final presentation sort."""
    plan = plans["audio_spectral_profile"]
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan  # no join anywhere — pure map + sort


def test_countmin_probe_broadcasts_the_sketch(plans):
    """The D*W counter matrix is dimension-sized; probing it must be
    a broadcast join, and the sketch build must map-side combine
    (partial aggregate before the exchange)."""
    plan = plans["approx_freq_countmin"]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # map-side combine on the build


def test_image_ahash_decode_never_shuffles_pixels(plans):
    """aHash decode+hash is Arrow-batched map-only; the dup grouping
    shuffles 16-byte hash keys, never payloads."""
    plan = plans["image_perceptual_dedup"]
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_image_neardup_band_join_on_collapsed_hashes(plans):
    """The band self-join must be an equi-join (hash-partitioned or
    broadcast — the collapsed hash dimension is tiny), never a
    nested-loop or cartesian candidate generator."""
    plan = plans["image_perceptual_neardup"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audio_segments_two_stage_shape(plans):
    """Decode+energy is Arrow-batched; islands are window arithmetic —
    no row-at-a-time Python, no join anywhere in the plan."""
    plan = plans["audio_energy_segments"]
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_length_batching_single_window_shuffle(plans):
    """One scan -> per-bucket window -> aggregate; no join, no Python."""
    plan = plans["length_bucketed_batching"]
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert "Window" in plan


def test_corpus_diff_is_one_keyed_join(plans):
    """The snapshot diff is ONE full-outer join on the doc key (a
    sort-merge on co-partitioned sides — the canonical diff plan);
    no cartesian, no Python."""
    plan = plans["corpus_version_diff"]
    # formatted explain names each node twice; count the unique
    # "Join type:" line instead
    assert plan.count("Join type: FullOuter") == 1
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_embedding_health_single_aggregate(plans):
    """One scan, partial+final aggregate, no join, no Python — the
    whole report rides one dimension-sized exchange."""
    plan = plans["embedding_health_report"]
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert "HashAggregate" in plan


def test_anomaly_scoring_single_aggregate_plus_window(plans):
    """Hourly counts map-side combine, then a window over the tiny
    (hours x types) frame — no join, no Python."""
    plan = plans["event_rate_anomalies"]
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert "Window" in plan


def test_markup_extraction_is_pure_expressions(plans):
    """Markup build + tag-strip + anchor capture are all JVM string
    expressions — no Python of any kind, no join, no shuffle beyond
    the presentation sort."""
    plan = plans["markup_text_extraction"]
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_entity_clusters_report_is_takeordered(plans):
    """The survivorship report caps rows via TakeOrdered (never a global
    sort) and stays JVM-side; the block/match joins live behind the
    components fixpoint's checkpoint and are pinned by
    tests/test_entity_resolution.py."""
    plan = plans["entity_match_clusters"]
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_exchange_or_sort_below_smj(plans):
    """The bucketed-table join must zip bucket i with bucket i: below
    the SortMergeJoin there may be NO Exchange and NO Sort — the write
    paid the shuffle once; every read joins co-located. Both scans must
    report bucketed reads."""
    plan = plans["bucketed_colocated_join"]
    tree = plan.split("\n\n", 1)[0]
    after_smj = tree.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in after_smj, after_smj
    assert "Sort" not in after_smj, after_smj
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_pareto_frontier_never_materializes_pairs(plans):
    """The skyline must run as aggregate + window + broadcast join-back
    — no dominance self-join (cartesian) and no Python."""
    plan = plans["pareto_frontier_parts"]
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_exact_median_second_pass_is_takeordered(plans):
    """Pass 2 must select the residual rank as TakeOrdered over the
    single located bucket (bounded by the histogram width) — never a
    one-partition global window — and stay JVM-side (the pass-1
    histogram collect is bounded by the price domain, documented)."""
    plan = plans["exact_median_twopass"]
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_schema_evolution_read_is_one_scan_one_aggregate(plans):
    """The merged read must stay a plain multi-directory scan feeding
    one aggregate — schema merge is footer metadata work, never a
    Python or join stage."""
    plan = plans["schema_evolution_read"]
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_quarantine_parse_is_jvm_native(plans):
    """The PERMISSIVE JSON parse and quarantine split must stay
    JVM-side: one scan, one aggregate, no Python, no join."""
    plan = plans["corrupt_record_quarantine"]
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_compaction_plan_shares_one_window_exchange(plans):
    """Both compaction windows partition by (a superset of) part_key, so
    they must share ONE hash exchange — the second window adds only a
    local re-sort. The scan reads exactly the two inventory columns."""
    plan = plans["compaction_plan"]
    assert plan.count("Arguments: hashpartitioning") == 2  # agg + windows
    assert "EvalPython" not in plan
    assert "l_suppkey" in plan and "l_shipdate" in plan
    assert "l_extendedprice" not in plan  # column pruning reached the scan


def test_zone_map_report_stays_jvm_side(plans):
    """The layout comparison is two aggregates + one NTILE window —
    no Python, no join (the union is not a join), scans pruned to the
    four columns the inventory needs."""
    plan = plans["zone_map_pruning_report"]
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "ntile" in plan.lower()


def test_flac_inventory_is_arrow_batched_map_only(plans):
    """The FLAC demux is a map-only Arrow stage: no joins, no
    row-at-a-time Python; the only wide node allowed is the
    spread_for_python repartition guarding the Python-stage
    parallelism cliff."""
    plan = plans["flac_stream_info"]
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "Join" not in plan


def test_selfjoin_estimate_is_broadcast_only(plans):
    """The F2 estimator's only join is the k-row sketch vs the exact
    aggregate (broadcast); the corpus side is one keyed count."""
    plan = plans["selfjoin_size_estimate"]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_kmv_set_ops_joins_stay_sketch_bounded(plans):
    """Sketch set algebra joins only k-row-bounded relations: the class
    pair enumeration and the OR-condition band membership may plan as
    broadcast nested loops (both inputs bounded by k * |classes|,
    a dimension), but never a CartesianProduct over data-sized input
    and never sort-merge on the sketch side."""
    plan = plans["kmv_set_operations"]
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_warc_text_pipeline_is_map_only_until_sort(plans):
    """The crawl→corpus capstone must be a single Arrow-batched record
    walk followed by codegen'd string expressions: no joins, no
    row-at-a-time Python, and no aggregation exchange — the only wide
    nodes allowed are the spread_for_python repartition (Python-stage
    parallelism guard) and the final presentation sort."""
    plan = plans["warc_text_pipeline"]
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_cross_split_leakage_never_all_pairs(plans):
    """The bipartite prefix-filter join must stay equi-join shaped:
    a CartesianProduct or nested loop would mean the candidate
    generation degenerated to train x eval all-pairs."""
    plan = plans["cross_split_leakage"]
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_bpe_encode_joins_vocab_broadcast(plans):
    """bpe_corpus_encode touches the corpus once and attaches the
    vocabulary-sized (word -> n_subwords) map as a broadcast — a
    SortMergeJoin here would shuffle the exploded corpus against a
    Heaps-sublinear dimension."""
    plan = plans["bpe_corpus_encode"]
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_pca_gram_pass_is_arrow_blas(spark, sf_dir):
    """The PCA covariance pass must stay on the Arrow+BLAS path (the
    vectorized RowMatrix.computeGramianMatrix shape): per-partition
    dgemm partials, then a state-sized hash aggregate. Measured at the
    synthesized sf1: the d^2-per-row JVM explosion is 36x slower. A
    BatchEvalPython node here would be the row-at-a-time regression."""
    from pyspark.sql import functions as F

    from m4i_flink_tasks_spark.operators.spread import spread_for_compute
    from m4i_flink_tasks_spark.sources import load_table

    def _gram_parts(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if len(pdf):
                X = np.vstack(pdf["embedding"].to_numpy())
                g = X.T.astype("float64") @ X.astype("float64")
                yield pd.DataFrame(
                    {
                        "pos": np.arange(g.size, dtype=np.int64),
                        "s": g.ravel(),
                    }
                )

    emb = load_table(spark, sf_dir, "embeddings")
    mom = (
        spread_for_compute(emb.select("embedding"))
        .mapInPandas(_gram_parts, "pos long, s double")
        .groupBy("pos")
        .agg(F.sum("s").alias("s"))
    )
    tree = plan_of(mom).split("\n\n")[0]
    assert "MapInPandas" in tree, tree
    assert "BatchEvalPython" not in tree
    assert tree.count("HashAggregate") >= 2, (
        "moments lost map-side partial aggregation:\n" + tree
    )


def test_prototypicality_centroid_join_broadcasts(plans):
    """prototypicality_pruning's scoring join attaches a k x 64
    centroid table — it must broadcast (the corpus side never
    shuffles for it); the only corpus exchange is the per-cluster
    rank window."""
    plan = plans["prototypicality_pruning"]
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hdr_quantiles_validation_avoids_global_sort(plans):
    """hdr_histogram_quantiles' exact-validation column must use the
    two-pass bucket selection (filter + bounded limit), never a
    one-partition global rank window over the raw rows (the r7
    arrival measurement caught exactly that: 3.3x at 10x data before
    the fix, 1.1x after)."""
    plan = plans["hdr_histogram_quantiles"]
    assert "Window" not in plan, plan
    assert "GlobalLimit" in plan or "TakeOrdered" in plan, plan


def test_classifier_auc_rank_window_is_score_domain_bounded(plans, spark, sf_dir):
    """classifier_auc_report's cumulative rank window is unpartitioned,
    which is safe ONLY because its input is the per-score grouped
    relation: scores are sigmoids rounded to 6 decimals, so the window
    sees a value-domain-bounded relation (<= 1e6 + 1 rows) regardless
    of corpus size — never the raw per-document rows (r7 verdict
    performance note (a)). Two pins:

    1. plan shape — the Window's child chain is Sort -> Exchange ->
       HashAggregate keyed by score (the per_score aggregate), so the
       single-task sort ranks score groups, not documents;
    2. value property — every distinct score is exactly a 6-dp value in
       [0, 1], so the group-key domain is capped by construction.
    """
    import re

    plan = plans["classifier_auc_report"]
    tree = plan.split("\n\n")[0]
    lines = tree.split("\n")
    win = next(i for i, l in enumerate(lines) if "Window (" in l)
    below = "\n".join(lines[win + 1 : win + 4])
    assert "Sort (" in below and "HashAggregate (" in below, tree
    # the aggregate feeding the window groups by score (details section)
    assert re.search(r"Keys \[1\]: \[score#\d+", plan), plan

    from m4i_flink_tasks_spark.queries.quality_classifier import (
        quality_classifier_scores,
    )

    import pyspark.sql.functions as F

    bad = (
        quality_classifier_scores(spark, sf_dir)
        .select("score")
        .where(
            (F.col("score") < 0)
            | (F.col("score") > 1)
            # 6-dp rounding must be idempotent on every score (the
            # group-key domain is the 6-dp grid, <= 1e6 + 1 values)
            | (F.round(F.col("score"), 6) != F.col("score"))
        )
        .limit(1)
        .collect()
    )
    assert not bad, f"score outside the 6-dp [0,1] domain: {bad}"


# Queries whose plan legitimately contains a Window over an
# Exchange(SinglePartition) — every one ranks a relation that is
# ALREADY REDUCED far below corpus size, so the single-task sort is
# bounded no matter how large the input tables grow. The bound, per
# query:
#   classifier_auc_report      score-distinct grid (<= 1e6 + 1 rows)
#   zipf_fit                   vocabulary (Heaps-law sublinear)
#   tokenizer_fertility_by_language   language-count relation
#   selection_ablation_report  one row per ablation arm
#   sequential_ab_msprt        one row per calendar day
#   corpus_build_manifest      one row per pipeline stage
#   pareto_frontier_parts      part-count dimension
#   ngram_lm_perplexity / lm_head_sample /
#   temperature_mixture_sample   per-document score relation (ntile
#                              bucketing of the corpus catalog, not of
#                              token-level data)
#   conformal_keep_gate        nonconformity-DISTINCT relation for the
#                              quantile-rank cumsum (<= 1e6 + 1 rows at
#                              any corpus size — scores are 6-dp-rounded
#                              first, the classifier_auc_report argument)
_GLOBAL_RANK_BOUNDED = {
    "classifier_auc_report",
    "conformal_keep_gate",
    "corpus_build_manifest",
    "lm_head_sample",
    "ngram_lm_perplexity",
    "pareto_frontier_parts",
    "selection_ablation_report",
    "sequential_ab_msprt",
    "temperature_mixture_sample",
    "tokenizer_fertility_by_language",
    "zipf_fit",
}


def _single_partition_window_count(plan: str) -> int:
    import re

    tree = plan.split("\n\n")[0]
    lines = tree.split("\n")
    flagged = 0
    for i, line in enumerate(lines):
        if re.search(r"Window(?:GroupLimit)? \(\d+\)", line):
            for j in range(i + 1, min(i + 4, len(lines))):
                m = re.search(r"Exchange \((\d+)\)", lines[j])
                if m:
                    nid = m.group(1)
                    dm = re.search(
                        rf"\({nid}\) Exchange\n(?:.*\n)*?Arguments: (\w+)",
                        plan,
                    )
                    if dm and dm.group(1) == "SinglePartition":
                        flagged += 1
                    break
    return flagged


def test_single_partition_windows_stay_on_the_bounded_allowlist(plans):
    """Structural guard on the one plan shape that silently stops
    scaling: a Window whose input is Exchange(SinglePartition) is a
    one-task global sort, acceptable ONLY over a relation bounded far
    below corpus size. Every such window in the registry must belong
    to the audited allowlist above (each entry's bound is documented
    there); a new query that global-sorts raw rows fails here instead
    of surviving to a scale rehearsal."""
    flagged = {
        name for name, plan in plans.items()
        if _single_partition_window_count(plan) > 0
    }
    unexplained = flagged - _GLOBAL_RANK_BOUNDED
    assert not unexplained, (
        "new single-partition global-rank windows need a documented "
        f"bound: {sorted(unexplained)}"
    )
    stale = _GLOBAL_RANK_BOUNDED - flagged
    assert not stale, (
        "allowlist entries no longer have the plan shape (prune them): "
        f"{sorted(stale)}"
    )


def test_no_cartesian_product_anywhere(plans):
    """A CartesianProduct node is a shuffled |L| x |R| blow-up with no
    broadcast side — never acceptable at any scale. The registry's only
    sanctioned cross joins are BroadcastNestedLoopJoins whose build
    side is a one-row scalar or dimension-sized frame (the
    crossJoin(broadcast(...)) idiom); this pins the stronger shape out
    entirely."""
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, f"cartesian product in: {offenders}"
