"""ANSI-SQL surface parity: the DuckDB oracle strings for a curated
portable subset must run UNCHANGED through ``spark.sql`` and produce
the same rows as the DataFrame implementations.

This proves the engine exposes both faces the brief asks for — a
DataFrame API and a SQL surface over the same tables — and that the
oracle strings are genuine ANSI SQL rather than DuckDB dialect (the
excluded oracles use documented DuckDB-only constructs: list lambdas,
strftime, ``//`` integer division, epoch_ms)."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest

from m4i_flink_tasks_spark.queries import (
    all_oracles,
    all_queries,
    extra_oracles,
    extra_queries,
)
from m4i_flink_tasks_spark.sources import load_table

_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Oracles verified portable: parse and run on Spark SQL as written.
PORTABLE = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "rollup_order_totals",
    "cube_lineitem_stats",
    "top_orders_per_customer",
    "pareto_frontier_parts",
)


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            # Spark SQL types decimal literals as DECIMAL, the DF API
            # as double — same values, different carrier.
            if isinstance(v, Decimal):
                v = float(v)
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "nan"
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=str)


@pytest.fixture(scope="module")
def sql_views(spark, sf_dir):
    for t in _TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark


@pytest.mark.parametrize("name", PORTABLE)
def test_oracle_sql_runs_on_spark(name, sql_views, spark, sf_dir):
    queries = {**all_queries(), **extra_queries()}
    oracles = {**all_oracles(), **extra_oracles()}
    df = queries[name](spark, sf_dir)
    via_df = _norm([tuple(r) for r in df.collect()], df.columns)
    sq = sql_views.sql(oracles[name])
    via_sql = _norm([tuple(r) for r in sq.collect()], sq.columns)
    assert via_df == via_sql, f"{name}: DataFrame vs spark.sql mismatch"
