"""Streaming sessionization as MERGEABLE interval state.

The batch sessionizer (``queries/streaming_like.session_windows``:
gaps-and-islands, 30-minute inactivity gap) needs every event of a user
in one sorted pass. This streaming form never does: each micro-batch is
sessionized independently (an expression fold over the batch's sorted
timestamps) and the per-user session LIST is merged into keyed state by
gap-closure over intervals:

    merge(A, B) = fold sorted(A ∪ B) joining adjacent intervals with
                  next.start - cur.end <= gap

Gap-closure over intervals is the transitive closure of the pointwise
"within gap" relation, so it is associative and commutative — the final
state is EXACTLY the batch answer under ANY batching, restart, or
replay order (pinned by tests against the batch query's tuples, unlike
Misra–Gries where only the error envelope is order-free).

State per user is its session list — bounded by activity span / gap,
not event count. The combine is pure array/struct expressions inside
the bucketed store's touched-bucket rewrite; the production swap-in is
the same expressions in a Delta MERGE, or Spark's native
``session_window`` aggregation when update-mode re-emission (rather
than queryable state) is the goal.

No reference analogue (the reference has no windowing at all — SURVEY
§2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import replay
from .sources import events_file_stream, stage_events
from .store import BucketedParquetUpsertStore

GAP_MS = 30 * 60 * 1000

_SESSION_ARR = "array<struct<start_ms:bigint,end_ms:bigint,n_events:bigint>>"

# Fold a SORTED array of (start,end,n) intervals, merging gap-adjacent
# neighbors. Shared by the per-batch partial (point intervals) and the
# state combine (session ∪ session).
def _gap_merge(sorted_intervals: str) -> str:
    return f"""
    aggregate(
        {sorted_intervals},
        cast(array() as {_SESSION_ARR}),
        (acc, s) -> case
            when size(acc) > 0
                 and s.start_ms - element_at(acc, -1).end_ms <= {GAP_MS}
            then concat(
                slice(acc, 1, size(acc) - 1),
                array(named_struct(
                    'start_ms', element_at(acc, -1).start_ms,
                    'end_ms', greatest(element_at(acc, -1).end_ms, s.end_ms),
                    'n_events', element_at(acc, -1).n_events + s.n_events)))
            else concat(acc, array(s))
        end)
    """


def batch_partial(batch: DataFrame) -> DataFrame:
    """Sessionize one micro-batch per user: sort the batch's event
    times, fold each into a point interval, gap-merge. One shuffle
    (the groupBy); the fold is linear in the user's batch events."""
    points = (
        batch.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("ts_ms")).alias("ts"))
        .withColumn(
            "_pts",
            F.expr(
                "transform(ts, t -> named_struct("
                "'start_ms', t, 'end_ms', t, 'n_events', 1L))"
            ),
        )
    )
    return points.select(
        "user_id",
        F.expr(_gap_merge("_pts")).alias("sessions"),
    )


def merge_sessions(cur: DataFrame, batch: DataFrame) -> DataFrame:
    """Union the stored and incoming session lists per user, sort by
    interval start, gap-merge. Order-insensitive (closure property)."""
    joined = cur.select(
        "user_id", F.col("sessions").alias("_old")
    ).join(
        batch.select("user_id", F.col("sessions").alias("_new")),
        "user_id",
        "full_outer",
    )
    empty = f"cast(array() as {_SESSION_ARR})"
    return joined.select(
        "user_id",
        F.expr(
            _gap_merge(
                "array_sort("
                f"concat(coalesce(_old, {empty}), coalesce(_new, {empty})),"
                " (a, b) -> case when a.start_ms < b.start_ms then -1 "
                "when a.start_ms > b.start_ms then 1 "
                "when a.end_ms < b.end_ms then -1 "
                "when a.end_ms > b.end_ms then 1 else 0 end)"
            )
        ).alias("sessions"),
    )


def run_stream_sessions(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded event stream; return the per-user session
    state in the batch query's exact shape (user_id, session_seq,
    n_events, session_start_ms, session_end_ms)."""
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "session_state"),
        key_cols=["user_id"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch_partial(batch),
            combine=merge_sessions,
            batch_id=batch_id,
        )

    replay(
        events_file_stream(spark, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_sessions"),
    )

    final = store.require_current()
    return (
        final.select(
            "user_id",
            F.posexplode("sessions").alias("pos", "s"),
        )
        .select(
            "user_id",
            (F.col("pos").cast("long")).alias("session_seq"),
            F.col("s.n_events").alias("n_events"),
            F.col("s.start_ms").alias("session_start_ms"),
            F.col("s.end_ms").alias("session_end_ms"),
        )
        .orderBy("user_id", "session_seq")
    )
