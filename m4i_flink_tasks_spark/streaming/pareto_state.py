"""Streaming Pareto-frontier (skyline) maintenance.

The skyline is a mergeable summary: skyline(A ∪ B) =
skyline(skyline(A) ∪ B) — dominated points can never shield others, so
dropping them early is lossless. That makes the streamed state exactly
the batch answer for ANY batch split (the same monoid argument as the
KMV sketch in sketch_state.py): each micro-batch contributes its own
per-price minima reduced to a batch skyline, the store keeps the
skyline of the union, and the readout joins the final frontier back to
the part table — identical output to the batch
``queries/warehouse.py`` ``pareto_frontier_parts``, which is therefore
the oracle.

Skyline merges DELETE dominated rows that may live in buckets the
incoming batch does not touch, so the merge passes ``touch_keys`` =
the full current frontier — legal here because frontier state is
dimension-sized (strictly decreasing best-size per price) at any data
scale.

No reference analogue (the reference has no aggregation state at all —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore

PARTS_STREAM_SCHEMA = "p_size int, price_cents long"


def stage_parts(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Stage (size, integer-cents price) as ``n_files`` partkey-ordered
    parquet files (idempotent immutable-topic model)."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "part").select(
            "p_partkey",
            "p_size",
            F.round(F.col("p_retailprice") * 100)
            .cast("long")
            .alias("price_cents"),
        ),
        staging_dir,
        n_files,
        "p_partkey",
    )


def _skyline(points: DataFrame) -> DataFrame:
    """(price_cents, best_size) -> its 2-D skyline: per-price min, then
    keep prices whose best size beats the running minimum of all
    strictly cheaper prices (same formulation as the batch query)."""
    per_price = points.groupBy("price_cents").agg(
        F.min("best_size").alias("best_size")
    )
    w = (
        Window.orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_price.withColumn("run_min", F.min("best_size").over(w))
        .filter(
            F.col("run_min").isNull()
            | (F.col("best_size") < F.col("run_min"))
        )
        .select("price_cents", "best_size")
    )


def batch_partial(batch: DataFrame) -> DataFrame:
    return _skyline(
        batch.select(
            "price_cents", F.col("p_size").alias("best_size")
        )
    )


def merge_frontiers(cur: DataFrame, batch: DataFrame) -> DataFrame:
    return _skyline(cur.unionByName(batch))


def run_stream_pareto_frontier(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded part stream; return the frontier parts report
    from the maintained skyline state (batch-identical columns)."""
    staging = stage_parts(
        spark, sf_dir, os.path.join(workdir, "staging_parts"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "frontier_state"),
        key_cols=["price_cents"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        cur = store.current()
        store.merge(
            batch_partial(batch),
            combine=merge_frontiers,
            batch_id=batch_id,
            touch_keys=(
                None if cur is None else cur.select("price_cents")
            ),
        )

    replay(
        file_stream(spark, PARTS_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_pareto"),
    )

    frontier = store.require_current()
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    return (
        part.alias("p")
        .join(
            F.broadcast(frontier.alias("f")),
            (F.col("p.price_cents") == F.col("f.price_cents"))
            & (F.col("p.p_size") == F.col("f.best_size")),
        )
        .select(
            "p.p_partkey",
            "p.p_brand",
            "p.p_size",
            F.round(F.col("p.price_cents") / 100.0, 2).alias("price"),
        )
        .orderBy("price", "p_partkey")
    )
