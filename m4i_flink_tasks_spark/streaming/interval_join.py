"""Watermarked stream-stream interval join.

The reference has no joins at all as user-facing operators (SURVEY
§2.6) — its correlations happen via store lookups. This is the
streaming-native correlation primitive Spark adds: two unbounded
streams joined on a key plus an event-time range (here: each signup
matched to that user's purchases within the following hour), with
watermarks on BOTH sides so the join state is provably droppable —
Spark derives the state retention from the watermark delta and the
interval bound, giving O(horizon) state instead of O(stream).

Both sides are separate readers of the same staged topic (a
stream-stream self-join), which is the reference's
one-topic-many-consumers shape. Inner join + append mode: matches emit
as soon as both sides arrive; the keyed store makes re-delivery
idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import replay
from .sources import events_file_stream, stage_events
from .store import BucketedParquetUpsertStore


def interval_join(signups: DataFrame, purchases: DataFrame) -> DataFrame:
    """Per user: (signup, purchase) pairs with purchase.ts in
    [signup.ts, signup.ts + 1 hour]."""
    s = (
        signups.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_event_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts_ms").alias("s_ts_ms"),
            F.timestamp_millis(F.col("ts_ms")).alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts_ms").alias("p_ts_ms"),
            F.timestamp_millis(F.col("ts_ms")).alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return s.join(
        p,
        (F.col("s_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "signup_event_id",
        "purchase_event_id",
        F.col("s_user_id").alias("user_id"),
        (F.col("p_ts_ms") - F.col("s_ts_ms")).alias("delay_ms"),
    )


def _replay_matches(
    spark: SparkSession,
    staging: str,
    workdir: str,
    max_files_per_trigger: int | None,
    checkpoint_name: str,
) -> DataFrame:
    """Replay the staged topic through the join into the match store;
    return the final match table. An append-mode stream-stream join
    emits each matched pair exactly once -> append-only store,
    O(batch) per batch."""
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "interval_matches"),
        key_cols=["signup_event_id", "purchase_event_id"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(batch, batch_id=batch_id, insert_only=True)

    replay(
        interval_join(
            events_file_stream(spark, staging, max_files_per_trigger),
            events_file_stream(spark, staging, max_files_per_trigger),
        ),
        sink,
        os.path.join(workdir, checkpoint_name),
    )
    return store.require_current()


def run_interval_join(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded stream through the join; return the final
    match table."""
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    return _replay_matches(
        spark, staging, workdir, max_files_per_trigger, "ckpt_interval"
    )


def run_interval_join_left(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """LEFT OUTER interval join over the same two streams: every signup
    appears — with its in-window purchases, or one NULL-purchase row
    once it is provably unmatched.

    Shape: the watermarked inner join above runs unchanged, and a
    second append-only store accumulates the signup side; the readout
    anti-joins the two, so "provably unmatched" is decided over the
    COMPLETE bounded stream and equals the batch LEFT JOIN exactly.
    Spark's native ``joinType="leftOuter"`` stream-stream join is the
    unbounded-production swap-in at the same call site — its
    NULL-emission happens when the watermark passes a row's join
    window, which at end-of-stream leaves the final window's unmatched
    rows in state (their emission depends on trigger boundaries, not
    data); the store-backed readout removes exactly that
    nondeterminism, which is what makes a batch oracle possible."""
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    signup_store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "signups"),
        key_cols=["signup_event_id"],
    )

    def signup_sink(batch: DataFrame, batch_id: int) -> None:
        signup_store.merge(
            batch.filter(F.col("event_type") == "signup").select(
                F.col("event_id").alias("signup_event_id"),
                F.col("user_id"),
            ),
            batch_id=batch_id,
            insert_only=True,
        )

    matches = _replay_matches(
        spark, staging, workdir, max_files_per_trigger, "ckpt_lj_match"
    )
    replay(
        events_file_stream(spark, staging, max_files_per_trigger),
        signup_sink,
        os.path.join(workdir, "ckpt_lj_signup"),
    )

    signups = signup_store.require_current()
    unmatched = signups.join(
        matches.select("signup_event_id"), "signup_event_id", "left_anti"
    ).select(
        "signup_event_id",
        F.lit(None).cast("long").alias("purchase_event_id"),
        "user_id",
        F.lit(None).cast("long").alias("delay_ms"),
    )
    return matches.unionByName(unmatched)
