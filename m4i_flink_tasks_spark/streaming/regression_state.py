"""Streaming incremental OLS trend: per-nation regression maintained
from an order stream as ADDITIVE integer month-cells.

The batch form is the one-shot OLS of ``stream_trend_slopes``' oracle;
here the (nation, month) revenue cells are maintained as keyed state
across micro-batches and the OLS moments / slope are a pure READOUT of
that state. Because the per-cell value is a sum of per-ROW integer
cents, the combine is exact addition — associative, commutative, and
idempotent under replay via the store's batch_id fencing — so the
streamed state equals the batch aggregate for ANY batch split, and the
slope readout (integer moments, one float division) is bit-identical
to the batch formulation. That is the mergeable-summary posture of the
rest of this family (heavy_hitters.py, sketch_state.py): keep the
STATE additive/integer, push all float arithmetic to the readout.

Scale posture: state is (nations x months) rows — dimension-sized
forever; each micro-batch shuffles only its own (nation, month)
partials (map-side combinable), the customer->nation dim joins the
batch as a broadcast (stream-static join), and the store rewrites only
touched buckets.

No reference analogue (the reference has no aggregation state at all —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore, monoid_combine

ORDERS_TREND_SCHEMA = "o_custkey long, x int, rev_cents long"


def stage_order_revenue(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Stage (custkey, month index, per-row cents) as ``n_files``
    orderkey-ordered parquet files (idempotent immutable-topic model).
    Cents are per ROW so any batch split sums to the same cells."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            (
                (F.year("o_orderdate") - 1970) * 12
                + F.month("o_orderdate")
                - 1
            ).alias("x"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("rev_cents"),
        ),
        staging_dir,
        n_files,
        "o_orderkey",
    )


def batch_partial(batch: DataFrame, nation_dim: DataFrame) -> DataFrame:
    """Per-batch (nation, month) cents cells; the nation dim broadcasts
    into the stream batch (stream-static join)."""
    return (
        batch.join(F.broadcast(nation_dim), "o_custkey")
        .groupBy("c_nationkey", "x")
        .agg(F.sum("rev_cents").alias("y_cents"))
    )


def slope_readout(cells: DataFrame, nation: DataFrame) -> DataFrame:
    """Identical moment arithmetic to the one-shot batch OLS: integer
    sums, one float division, rounded once."""
    moments = cells.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum("y_cents").alias("sy"),
        F.sum(F.col("x") * F.col("y_cents")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return (
        moments.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            moments.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            "n_months",
            F.round(
                (
                    F.col("n_months") * F.col("sxy")
                    - F.col("sx") * F.col("sy")
                ).cast("double")
                / (
                    F.col("n_months") * F.col("sxx")
                    - F.col("sx") * F.col("sx")
                )
                / 100.0,
                6,
            ).alias("slope_per_month"),
            F.round(F.col("sy") / F.col("n_months") / 100.0, 4).alias(
                "avg_monthly_revenue"
            ),
        )
        .orderBy("n_name")
    )


def run_stream_trend_slopes(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded order stream; return the per-nation OLS trend
    computed from the maintained month-cell state."""
    staging = stage_order_revenue(
        spark, sf_dir, os.path.join(workdir, "staging_orders"), n_files
    )
    nation_dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "trend_state"),
        key_cols=["c_nationkey", "x"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch_partial(batch, nation_dim),
            combine=monoid_combine(["c_nationkey", "x"], {"y_cents": "sum"}),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, ORDERS_TREND_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_trend"),
    )

    final = store.require_current()
    return slope_readout(final, load_table(spark, sf_dir, "nation"))
