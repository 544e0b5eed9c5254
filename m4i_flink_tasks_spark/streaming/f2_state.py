"""Streaming self-join-size (F2) estimation: additive keyed counts as
state, the batch sketch readout at query time.

Companion to ``queries/sketches.py`` ``selfjoin_size_estimate``: the
per-(event_type, user) occurrence counts the estimator reads are an
addition monoid, so maintaining them as keyed state in the bucketed
upsert store (replay-fenced by batch_id) gives counts batch-equal for
ANY batch split — and the shared ``f2_report_from_counts`` readout then
yields the identical join-size prediction the batch query computes, so
the batch oracle oracles the stream. This is the shape of a planner
statistic kept CURRENT as events land: the skew/self-join-cost read is
always available without a rescan.

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

EVENT_STREAM_SCHEMA = "etype string, user_id long"


def stage_event_keys(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Stage the (event_type, user_id) key stream, ``n_files``
    event-id-ordered parquet files (idempotent immutable-topic model)."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "events").select(
            "event_id",
            F.col("event_type").alias("etype"),
            "user_id",
        ),
        staging_dir,
        n_files,
        "event_id",
    )


def run_stream_selfjoin_size(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    from ..queries.sketches import f2_report_from_counts

    staging = stage_event_keys(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "f2_state"),
        key_cols=["etype", "user_id"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch.groupBy("etype", "user_id").agg(
                F.count(F.lit(1)).alias("c")
            ),
            combine=monoid_combine(["etype", "user_id"], {"c": "sum"}),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, EVENT_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_f2"),
    )

    counts = store.require_current()
    return f2_report_from_counts(counts)
