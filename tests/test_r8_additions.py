"""Property pins for the round-8 additions, beyond the oracle parity
sweep: invariants that hold by construction and would catch a silent
formula regression even if both engines drifted together.
"""

from __future__ import annotations

import math

import pytest

from m4i_flink_tasks_spark.queries import _merged_queries


@pytest.fixture(scope="module")
def queries():
    return _merged_queries()


def test_t_closeness_bands_partition_the_table(spark, sf_dir, queries):
    """TVD is a distance in [0, 1]; the band rows partition the
    customer table exactly (every class lands in one band)."""
    from m4i_flink_tasks_spark.sources import load_table

    out = queries["t_closeness_audit"](spark, sf_dir).collect()
    n_customers = load_table(spark, sf_dir, "customer").count()
    assert sum(r["n_rows"] for r in out) == n_customers
    for r in out:
        assert 0.0 <= r["min_tvd"] <= r["max_tvd"] <= 1.0
        # band membership consistent with the integer thresholds
        if r["band"].startswith("1"):
            assert r["max_tvd"] <= 0.1 + 1e-9
        elif r["band"].startswith("3"):
            assert r["min_tvd"] > 0.2 - 1e-9


def test_msprt_p_value_is_always_valid_shaped(spark, sf_dir, queries):
    """p_n must be a running minimum in [0, 1] (non-increasing over
    days) and Lambda >= sqrt(V/(V+tau)) > 0; the reject flag must equal
    the rounded-p threshold comparison."""
    out = (
        queries["sequential_ab_msprt"](spark, sf_dir)
        .orderBy("day")
        .collect()
    )
    assert out
    prev = 1.0
    for r in out:
        assert 0.0 <= r["p_always_valid"] <= prev + 1e-12
        prev = r["p_always_valid"]
        assert r["msprt_lambda"] > 0
        assert r["reject_h0"] == (r["p_always_valid"] <= 0.05)
        # cumulative counts are monotone by construction
    ns = [(r["n_a"], r["n_b"]) for r in out]
    assert ns == sorted(ns)


def test_adamic_adar_matches_python_recompute(spark, sf_dir, queries):
    """Cross-check the wedge-join + micro-unit scoring against a naive
    driver-side recompute on the (small) supplier graph."""
    from m4i_flink_tasks_spark.queries.graph_analytics import (
        _supplier_edges,
    )

    edges = {
        (r["s1"], r["s2"])
        for r in _supplier_edges(spark, sf_dir).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    scores: dict[tuple[int, int], int] = {}
    for z, neigh in adj.items():
        term = round(1_000_000 / math.log(len(neigh)))
        for u in neigh:
            for w in neigh:
                if u < w:
                    scores[(u, w)] = scores.get((u, w), 0) + term
    cand = {
        pair: s
        for pair, s in scores.items()
        if pair not in edges and (pair[1], pair[0]) not in edges
    }
    expected = sorted(
        ((s, *pair) for pair, s in cand.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:10]
    got = [
        (r["aa_micro"], r["suppkey_a"], r["suppkey_b"])
        for r in queries["adamic_adar_topk"](spark, sf_dir).collect()
    ]
    assert got == expected


def test_adamic_adar_degree_join_broadcasts(spark, sf_dir, queries):
    """The degree table attaches to the wedge relation as a broadcast —
    the corpus-sized side never shuffles for it."""
    df = queries["adamic_adar_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("n_files", [1, 6])
def test_markov_stream_is_split_invariant(spark, sf_dir, n_files):
    """The maintained transition matrix must equal the batch one for
    ANY time-ordered batch split — one giant batch and six small ones
    both reproduce the batch removal-effect report exactly."""
    import tempfile

    from m4i_flink_tasks_spark.streaming.markov_state import (
        run_stream_markov_attribution,
    )

    batch = sorted(
        map(
            tuple,
            _merged_queries()["markov_attribution"](
                spark, sf_dir
            ).collect(),
        )
    )
    wd = tempfile.mkdtemp(prefix=f"m4i_mk_split{n_files}_")
    streamed = sorted(
        map(
            tuple,
            run_stream_markov_attribution(
                spark, sf_dir, wd, n_files=n_files
            ).collect(),
        )
    )
    assert streamed == batch


@pytest.mark.parametrize("n_files", [1, 6])
def test_ab_and_privacy_streams_are_split_invariant(
    spark, sf_dir, n_files
):
    """Idempotent/additive monoid state: any split reproduces the
    batch audit and the batch monitoring report."""
    import tempfile

    from m4i_flink_tasks_spark.streaming.ab_state import (
        run_stream_sequential_ab,
    )
    from m4i_flink_tasks_spark.streaming.privacy_state import (
        run_stream_t_closeness,
    )

    qs = _merged_queries()
    batch_ab = sorted(
        map(tuple, qs["sequential_ab_msprt"](spark, sf_dir).collect())
    )
    wd = tempfile.mkdtemp(prefix=f"m4i_ab_split{n_files}_")
    assert (
        sorted(
            map(
                tuple,
                run_stream_sequential_ab(
                    spark, sf_dir, wd, n_files=n_files
                ).collect(),
            )
        )
        == batch_ab
    )

    batch_tc = sorted(
        map(tuple, qs["t_closeness_audit"](spark, sf_dir).collect())
    )
    wd = tempfile.mkdtemp(prefix=f"m4i_tc_split{n_files}_")
    assert (
        sorted(
            map(
                tuple,
                run_stream_t_closeness(
                    spark, sf_dir, wd, n_files=n_files
                ).collect(),
            )
        )
        == batch_tc
    )
