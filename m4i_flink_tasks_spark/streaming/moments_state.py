"""Streaming numeric-profile maintenance: the exact moment vector
(count, sums, squares, cross-products) as single-row additive state.

Companion to ``queries/profiling.py`` ``numeric_correlation_matrix``:
every moment the Pearson readout needs is a sum of per-row integer
terms, so the whole statistic vector is one addition-monoid fold —
the canonical "aggregate state" of online feature statistics. The
state is ONE row (15 decimal columns) regardless of stream length,
replay-fenced by batch_id; the shared ``corr_from_moments`` readout
then yields the identical correlation matrix the batch query
computes, so the batch oracle oracles the stream.

No reference analogue (the reference maintains no aggregation state —
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

_DEC = "decimal(38,0)"
MOMENT_STREAM_SCHEMA = (
    "quantity long, price_cents long, discount_bp long, tax_bp long"
)


def stage_numeric_rows(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Stage lineitem's integer-scaled numeric columns, ``n_files``
    orderkey-ordered parquet files (idempotent immutable-topic model)."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.col("l_quantity").cast("long").alias("quantity"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("price_cents"),
            F.round(F.col("l_discount") * 10000)
            .cast("long")
            .alias("discount_bp"),
            F.round(F.col("l_tax") * 10000).cast("long").alias("tax_bp"),
        ),
        staging_dir,
        n_files,
        "l_orderkey",
    )


def _batch_moments(batch: DataFrame) -> DataFrame:
    from ..queries.profiling import _CORR_NAMES, moment_aggs

    proj = batch.select(
        *[F.col(n).cast(_DEC).alias(n) for n in _CORR_NAMES]
    )
    return proj.agg(*moment_aggs()).withColumn("k", F.lit(1))


def run_stream_numeric_profile(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    from ..queries.profiling import corr_from_moments

    staging = stage_numeric_rows(
        spark, sf_dir, os.path.join(workdir, "staging_numeric"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "moments_state"),
        key_cols=["k"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        moments = _batch_moments(batch)
        sums = {c: "sum" for c in moments.columns if c != "k"}
        store.merge(
            moments, combine=monoid_combine(["k"], sums), batch_id=batch_id
        )

    replay(
        file_stream(spark, MOMENT_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_moments"),
    )

    state = store.require_current()
    return corr_from_moments(state.drop("k"))
