"""Streaming always-valid A/B monitoring: the mSPRT dashboard as
maintained state.

Sequential testing IS a streaming concept — the whole point of the
mixture SPRT (queries/behavior.py ``sequential_ab_msprt``) is that the
p-value stays valid at every look while data keeps arriving. This twin
maintains the only state the monitor needs: one row per user with
their first-exposure day (min — an idempotent monoid) and conversion
flag (max — likewise), the same per-user CDC shape as determine_change
keyed state. Both folds are order- and split-insensitive, so the
maintained user relation equals the batch user reduction for ANY
batch split, and the shared readout (``msprt_from_users`` — variant
hash, cumulative integer counts, per-day independent statistic,
order-exact running-min p) makes the batch oracle the stream's.
The shared readout's per-day rows are a hindsight reconstruction of
the final cohort table (see ``msprt_from_users``'s docstring): each
user's eventual conversion is folded to their first-exposure day, so
historical rows are anticipatory relative to a live look-by-look
monitor; the LATEST row (the only one a live dashboard acts on) is
identical under both framings once the stream has drained.

Replay safety: a single batch-id-fenced upsert per micro-batch; the
combine is idempotent anyway (min/max), so even an unfenced replay
converges.

No reference analogue (the reference maintains no aggregation state —
SURVEY §2.6); north-star experimentation scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore, monoid_combine

AB_STREAM_SCHEMA = "user_id bigint, day date, converted int"


def stage_ab_events(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    from ..queries.behavior import _AB_CONV_VALUE

    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.to_date("ts").alias("day"),
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") >= _AB_CONV_VALUE)
            )
            .cast("int")
            .alias("converted"),
        ),
        staging_dir,
        n_files,
        "event_id",
    )


def run_stream_sequential_ab(
    spark: SparkSession, sf_dir: str, workdir: str, n_files: int = 4
) -> DataFrame:
    from ..queries.behavior import msprt_from_users

    staging = stage_ab_events(
        spark, sf_dir, os.path.join(workdir, "staging_ab"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "user_state"),
        key_cols=["user_id"],
        n_buckets=8,
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        per_user = batch.groupBy("user_id").agg(
            F.min("day").alias("day"),
            F.max("converted").alias("converted"),
        )
        store.merge(
            per_user,
            combine=monoid_combine(
                ["user_id"], {"day": "min", "converted": "max"}
            ),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, AB_STREAM_SCHEMA, staging, 2),
        sink,
        os.path.join(workdir, "ckpt_ab"),
    )

    state = store.require_current()
    return msprt_from_users(
        state.select("user_id", "day", "converted")
    )
