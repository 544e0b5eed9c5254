"""Streaming EXACT median: an additive integer value-histogram as
keyed state, rank-indexed at readout.

Companion to the batch two-pass selection
(``queries/sketches.py`` ``exact_median_twopass``) and the mergeable
streaming-quantile sample (``quantile_state.py``): where the sample
gives approximate quantiles in O(k) state, this gives the EXACT median
whenever the value domain is bounded — prices in integer cents are:
the state is one (value, count) row per DISTINCT observed cents value,
bounded by the price domain regardless of row count. Counts add, so
the streamed state equals the batch histogram for ANY batch split
(replay-fenced by batch_id), and the readout — cumulative counts over
the value-sorted state, pick rank k = (n+1)//2 — is pure integer
arithmetic, bit-identical to the batch definition.

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
from .store import BucketedParquetUpsertStore, monoid_combine

PRICE_STREAM_SCHEMA = "pc long"


def stage_price_cents(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Stage lineitem extended prices as integer cents, ``n_files``
    orderkey-ordered parquet files (idempotent immutable-topic model)."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("pc"),
        ),
        staging_dir,
        n_files,
        "l_orderkey",
    )


def median_readout(hist: DataFrame) -> DataFrame:
    """(n_rows, k_rank, median_price) from the value histogram: the
    first value whose cumulative count reaches rank k. The window runs
    over the domain-sized histogram, never the raw rows."""
    w = Window.orderBy("pc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    # k must be the INTEGER lower-median rank (n+1)//2 — a double
    # (n+1)/2 threshold would shift even-n medians up one rank.
    totals = hist.agg(
        F.sum("cnt").alias("n"),
        F.expr("(sum(cnt) + 1) DIV 2").alias("k"),
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .filter(F.col("cum") >= F.col("k"))
        .orderBy("pc")
        .limit(1)
        .select(
            F.col("n").alias("n_rows"),
            F.col("k").alias("k_rank"),
            F.round(F.col("pc") / 100.0, 2).alias("median_price"),
        )
    )


def run_stream_exact_median(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    staging = stage_price_cents(
        spark, sf_dir, os.path.join(workdir, "staging_prices"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "median_state"),
        key_cols=["pc"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch.groupBy("pc").agg(F.count(F.lit(1)).alias("cnt")),
            combine=monoid_combine(["pc"], {"cnt": "sum"}),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, PRICE_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_median"),
    )

    hist = store.require_current()
    return median_readout(hist)
