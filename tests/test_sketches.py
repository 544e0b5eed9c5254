"""Statistical and structural properties of the sketch queries —
the oracle-parity gate pins determinism; these pin that the sketches
actually estimate what they claim.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from m4i_flink_tasks_spark.operators import text as T
from m4i_flink_tasks_spark.queries import sketches
from m4i_flink_tasks_spark.sources import load_table

SF01 = "/root/testdata/sf0.01"


def test_kmv_estimate_within_theory_bound(spark):
    """KMV with k=64 has relative standard error ~1/sqrt(k) = 12.5%;
    every group must land within 3 sigma of exact."""
    rows = sketches.approx_distinct_kmv(spark, SF01).collect()
    assert len(rows) == 5
    for r in rows:
        assert abs(r.rel_error_pct) < 37.5, r
        # the reported error column must agree with its own inputs
        recomputed = (
            (r.est_distinct - r.exact_distinct) * 100.0 / r.exact_distinct
        )
        assert abs(recomputed - r.rel_error_pct) < 1e-4


def test_kmv_sharded_build_equals_global_build(spark):
    """Mergeability invariant: the k-th smallest hash recovered from
    the union of per-shard k-min partials equals the k-th smallest over
    all distinct hashes (computed directly, no sharding)."""
    orders = load_table(spark, SF01, "orders")
    hashed = orders.select(
        F.col("o_orderpriority").alias("priority"),
        T.scrambled_hash(
            F.concat(F.lit("kmv:"), F.col("o_custkey"))
        ).alias("h"),
    ).distinct()
    w = Window.partitionBy("priority").orderBy("h")
    direct = {
        r.priority: r.h
        for r in hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 64)
        .collect()
    }
    via_shards = {
        r.priority: r.kth_hash
        for r in sketches.approx_distinct_kmv(spark, SF01).collect()
    }
    assert direct == via_shards


def test_scrambled_hash_disperses_sequential_keys(spark):
    """The reason scrambled_hash exists: over sequential integer keys,
    poly_hash's minimum is tiny relative to the ring (locally linear
    values cluster), while the scrambled minimum sits near M/n — the
    uniform-order-statistics regime KMV's estimator assumes."""
    df = spark.range(1, 2001).select(
        T.poly_hash(F.concat(F.lit("kmv:"), F.col("id"))).alias("p"),
        T.scrambled_hash(F.concat(F.lit("kmv:"), F.col("id"))).alias("s"),
    )
    row = df.agg(
        F.min("p").alias("pmin"),
        F.min("s").alias("smin"),
        F.max("s").alias("smax"),
    ).collect()[0]
    expected_min = T.HASH_MOD / 2001  # E[min of n uniforms] = M/(n+1)
    # scrambled min within 5x of the uniform expectation, and the
    # values span most of the ring
    assert row.smin < 5 * expected_min
    assert row.smax > T.HASH_MOD * 0.95
    assert 0 <= row.smin and row.smax < T.HASH_MOD


def test_sampled_token_frequency_mass_unbiased(spark):
    """The deterministic 5% gate must take ~5% of documents AND ~5% of
    token mass (no length bias); top-k per-token errors may skew
    positive (winner's curse, documented), but the overall scale-up
    must be sound."""
    docs = load_table(spark, SF01, "documents")
    gate = (
        T.scrambled_hash(F.concat(F.lit("vocab:"), F.col("doc_id"))) % 20
        == 0
    )
    n_tok = T.token_count(F.lower(F.col("text")))
    row = docs.select(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(gate, 1).otherwise(0)).alias("sampled"),
        F.sum(n_tok).alias("tok_total"),
        F.sum(F.when(gate, n_tok).otherwise(0)).alias("tok_sampled"),
    ).collect()[0]
    assert 0.03 < row.sampled / row.total < 0.08
    assert 0.03 < row.tok_sampled / row.tok_total < 0.08


def test_sampled_token_frequency_estimates(spark):
    out = sketches.sampled_token_frequency(spark, SF01).collect()
    # top-50 cap; the 26-doc sample's vocabulary is smaller than that
    assert 10 < len(out) <= 50
    for r in out:
        assert r.est_count == r.sampled_count * 20
        # relative error is only meaningful with sampling support;
        # rare tokens (a handful of sampled hits) legitimately land
        # far off and production would not act on them
        if r.sampled_count >= 20:
            assert abs(r.rel_error_pct) < 60.0, r


def test_bloom_screen_sound_and_useful(spark):
    """The Bloom screen must never drop a true match (candidates ⊇
    matches — no false negatives by construction, pinned here), must
    actually reduce the fact side, and must not change the exact join
    answer."""
    from m4i_flink_tasks_spark.queries.sketches import (
        _BLOOM_NATION,
        bloom_semijoin_reduction,
    )

    row = bloom_semijoin_reduction(spark, SF01).collect()[0]
    assert row.n_candidates >= row.n_matched
    assert row.n_false_positive == row.n_candidates - row.n_matched
    # the screen is useful: it rejects most non-matching fact rows
    assert row.n_candidates < row.n_fact * 0.5
    # and approximate: with 64 bits some false positives exist here
    assert row.n_false_positive > 0
    # ground truth via the plain join, no bloom involved
    sup = load_table(spark, SF01, "supplier")
    li = load_table(spark, SF01, "lineitem")
    dim = sup.filter(F.col("s_nationkey") == _BLOOM_NATION).select(
        "s_suppkey"
    )
    truth = (
        li.join(dim, li.l_suppkey == dim.s_suppkey)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("rev"),
        )
        .collect()[0]
    )
    assert truth.n == row.n_matched
    assert abs(truth.rev - row.matched_revenue) < 0.01


def test_stream_sketch_equals_batch(spark, sf_dir):
    """Mergeability across micro-batches: the streamed per-priority
    sketch state must yield the SAME k-th hash and estimate as the
    batch query computes in one pass (modulo the batch query's extra
    columns)."""
    import tempfile

    from m4i_flink_tasks_spark.streaming.sketch_state import (
        run_stream_distinct_sketch,
    )

    wd = tempfile.mkdtemp(prefix="m4i_sketch_stream_")
    streamed = {
        r.priority: (r.kth_hash, r.est_distinct)
        for r in run_stream_distinct_sketch(spark, sf_dir, wd).collect()
    }
    batch = {
        r.priority: (r.kth_hash, r.est_distinct)
        for r in sketches.approx_distinct_kmv(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stream_sketch_mid_stream_restart(spark, sf_dir):
    """Kill the sketch stream mid-way and restart against the same
    checkpoint + state store: the final sketch must equal the one-shot
    answer (batch-id replay contract on the combine path)."""
    import glob
    import shutil
    import tempfile

    from m4i_flink_tasks_spark.streaming.sketch_state import (
        run_stream_distinct_sketch,
        stage_orders,
    )

    wd_ref = tempfile.mkdtemp(prefix="m4i_sketch_ref_")
    expected = sorted(
        map(tuple, run_stream_distinct_sketch(spark, sf_dir, wd_ref).collect())
    )

    wd = tempfile.mkdtemp(prefix="m4i_sketch_restart_")
    import os

    staging = stage_orders(spark, sf_dir, os.path.join(wd, "staging_orders"), 4)
    parts = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    assert len(parts) == 4
    hidden = tempfile.mkdtemp(prefix="m4i_sketch_hidden_")
    later = parts[1:]
    mtimes = {p: os.stat(p).st_mtime for p in later}
    for p in later:
        shutil.move(p, os.path.join(hidden, os.path.basename(p)))

    first = run_stream_distinct_sketch(spark, sf_dir, wd)
    # partial stream: sketches exist but need not match the full answer
    assert first.count() > 0

    for p in later:
        shutil.move(os.path.join(hidden, os.path.basename(p)), p)
        os.utime(p, (mtimes[p], mtimes[p]))
    second = run_stream_distinct_sketch(spark, sf_dir, wd)
    assert sorted(map(tuple, second.collect())) == expected


def test_pagerank_power_iterations_converge(spark):
    """Fixed-point power iteration: total mass stays ~SCALE at every
    depth (integer truncation leaks < 1 unit per node per iteration),
    and successive iterations move less rank mass (contraction — the
    damped operator's Lipschitz constant is 0.85)."""
    from m4i_flink_tasks_spark.queries.graph import (
        _PR_SCALE,
        pagerank_power_iterations,
    )

    outs = {
        n: {
            r.node: r.rank_scaled
            for r in pagerank_power_iterations(
                spark, SF01, n_iter=n, top=None
            ).collect()
        }
        for n in (1, 2, 3)
    }
    n_nodes = len(outs[1])
    for n, ranks in outs.items():
        mass = sum(ranks.values())
        # truncation only ever LEAKS mass (never creates it), at most
        # ~1 unit per edge per iteration: < 1e-7 relative here
        assert 0 <= _PR_SCALE - mass < n * 1e-7 * _PR_SCALE, (n, mass)
    delta12 = sum(abs(outs[1][v] - outs[2][v]) for v in outs[1])
    delta23 = sum(abs(outs[2][v] - outs[3][v]) for v in outs[2])
    assert delta23 < delta12
    assert delta23 < 0.85 * delta12 + 2 * n_nodes


def test_jl_projection_preserves_distances(spark):
    """The JL guarantee the projection exists for: pairwise distances
    after the 64 → 16 ±1 projection stay within a constant factor of
    the originals for the overwhelming majority of pairs (eps ~
    sqrt(ln n / d_out) ≈ 0.62 here, so a generous band)."""
    import numpy as np

    from m4i_flink_tasks_spark.queries.llm_similarity import (
        _JL_OUT_DIM,
        _jl_signs,
        jl_random_projection,
    )

    emb = load_table(spark, SF01, "embeddings").orderBy("vec_id").limit(60)
    X = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    S = np.array(_jl_signs(), dtype=np.float64)  # (16, 64)
    P = (X @ S.T) / np.sqrt(_JL_OUT_DIM)
    n = len(X)
    ratios = []
    for i in range(n):
        for j in range(i + 1, n):
            d0 = np.linalg.norm(X[i] - X[j])
            d1 = np.linalg.norm(P[i] - P[j])
            if d0 > 1e-9:
                ratios.append(d1 / d0)
    ratios = np.array(ratios)
    # distances neither collapse nor blow up
    assert np.median(ratios) > 0.5 and np.median(ratios) < 2.0
    assert ((ratios > 0.25) & (ratios < 3.0)).mean() > 0.95
    # and the Spark query computes THIS projection (spot-check row 0)
    out = jl_random_projection(spark, SF01).filter(F.col("vec_id") == 0)
    got = {r.dim_idx: r.value for r in out.collect()}
    first = emb.filter(F.col("vec_id") == 0).collect()
    if first:
        expect = (
            np.array(first[0].embedding, dtype=np.float64) @ S.T
        ) / np.sqrt(_JL_OUT_DIM)
        for j, val in got.items():
            assert abs(val - round(float(expect[j]), 6)) < 1e-5


def test_group_quantiles_monotone_and_bounded(spark):
    rows = sketches.group_quantiles(spark, SF01).collect()
    li = load_table(spark, SF01, "lineitem")
    bounds = {
        r.flag: (r.lo, r.hi)
        for r in li.groupBy(F.col("l_returnflag").alias("flag")).agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        ).collect()
    }
    by_flag: dict[str, list] = {}
    for r in rows:
        by_flag.setdefault(r.flag, []).append(r)
    assert sorted(by_flag) == sorted(bounds)
    for flag, rs in by_flag.items():
        rs.sort(key=lambda r: r.quantile)
        qs = [r.quantile for r in rs]
        assert qs == [0.25, 0.5, 0.75, 0.95]
        prices = [r.price for r in rs]
        assert prices == sorted(prices)
        lo, hi = bounds[flag]
        assert lo <= prices[0] and prices[-1] <= hi


def test_percentile_approx_swap_stays_within_gk_bound(spark, sf_dir):
    """SCALE.md names percentile_approx (GK sketch) as the
    high-cardinality swap for the exact quantiles — pin that claim: at
    accuracy a, the approx estimate's RANK error must be within n/a of
    the exact quantile's rank (the GK guarantee), per group."""
    from pyspark.sql import functions as F

    from m4i_flink_tasks_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    accuracy = 1000
    both = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25, 0.5, 0.75))"
            ).alias("exact"),
            F.expr(
                "percentile_approx(l_extendedprice, "
                f"array(0.25, 0.5, 0.75), {accuracy})"
            ).alias("approx"),
            F.sort_array(F.collect_list("l_extendedprice")).alias("all_v"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert both
    import bisect

    for r in both:
        # GK guarantee: rank error <= n/accuracy; +2 absorbs the
        # discretization of mapping the returned VALUE back to a rank
        # (a duplicated value occupies a rank interval).
        max_rank_err = r.n / accuracy + 2
        for q, (e, a) in zip((0.25, 0.5, 0.75), zip(r.exact, r.approx)):
            target_rank = q * r.n
            lo = bisect.bisect_left(r.all_v, a)
            hi = bisect.bisect_right(r.all_v, a)
            dist = max(lo - target_rank, target_rank - hi, 0)
            assert dist <= max_rank_err, (
                r.l_returnflag, q, e, a, lo, hi, target_rank
            )


def test_selfjoin_estimate_collapses_to_exact_under_k(spark):
    """When a group's distinct-key domain fits inside the sample
    (n_users <= k), the estimator must return the EXACT F2 — the
    sample is the domain and the KMV scale factor must not kick in."""
    from m4i_flink_tasks_spark.queries.sketches import (
        _F2_K,
        selfjoin_size_estimate,
    )

    rows = selfjoin_size_estimate(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.k == _F2_K
        if r.n_users < _F2_K:
            assert r.est_f2 == r.exact_f2 and r.rel_error_pct == 0.0
            assert r.est_distinct == r.n_users


def test_selfjoin_estimate_reasonable_when_sampling(spark):
    """With a real sample (n_users > k) the F2 estimate must land
    within the coarse envelope distinct-sampling guarantees at k=64
    (the c^2 mass of a uniform-ish domain): within 3x either way, and
    the distinct estimate within the standard KMV 3/sqrt(k) band."""
    from m4i_flink_tasks_spark.queries.sketches import (
        _F2_K,
        selfjoin_size_estimate,
    )

    rows = selfjoin_size_estimate(spark, "/root/testdata/sf0.01").collect()
    sampled = [r for r in rows if r.n_users > _F2_K]
    assert sampled, "sf0.01 should exercise the sampling path"
    for r in sampled:
        assert r.exact_f2 / 3 <= r.est_f2 <= r.exact_f2 * 3, r
        assert abs(r.est_distinct - r.n_users) / r.n_users <= 3 / (_F2_K**0.5)


def test_kmv_set_operations_invariants(spark, sf_dir):
    """Sketch set-algebra sanity: Jaccard in [0,1], intersection never
    exceeds union, exact columns self-consistent, and the estimated
    union within the KMV band of the exact union when sampling."""
    from m4i_flink_tasks_spark.queries.sketches import (
        _KMV_K,
        kmv_set_operations,
    )

    rows = kmv_set_operations(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert r.est_intersect <= r.est_union
        assert r.exact_intersect <= r.exact_union
        if r.k_eff == _KMV_K:  # genuine sampling
            assert (
                abs(r.est_union - r.exact_union) / r.exact_union
                <= 3 / (_KMV_K**0.5)
            )
        else:  # sketch holds the whole union: estimates are exact
            assert r.est_union == r.exact_union
            assert r.est_intersect == r.exact_intersect
