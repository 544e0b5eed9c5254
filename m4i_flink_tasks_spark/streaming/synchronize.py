"""Job 4 — synchronize_app_search as an incremental ``foreachBatch``
document-store maintenance pipeline.

Reference: ``SynchronizeAppsearch(MapFunction)``
(scripts/synchronize_elastic_job.py:55-142) consumes diff events and
mutates a denormalized App Search document store doc-at-a-time — dozens
of synchronous point reads (Q1-Q5) and writes per event, with repeated
updates to the same doc collapsed last-writer-wins through the
``updated_docs`` dict (D9, synchronize_app_search.py:335,396,462,524,561).

Spark-first re-expression: each micro-batch is reduced **set-at-a-time**
to one partial-state row per guid (the D9 collapse as a partial
aggregation), then merged into the store with one keyed combine — the
per-doc point reads become a single outer join against the store
snapshot. The maintained document mirrors the store's shape: a
last-writer-wins scalar block (the reference's attribute copies, G24)
plus monotone accumulators (count / min / max / distinct-set union),
every one of which merges associatively, so the same combine works
whether a guid's history arrives in one batch or across fifty — and on
a real cluster, across executors.

Scale: per batch the work is O(batch) pre-aggregation + O(touched keys)
merge; nothing rescans the stream history. The distinct-set column is
bounded (event-type vocabulary), the reference's equivalent being the
fixed derived-field vocabulary (parameters.py:86-123).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import replay
from .sources import events_file_stream, stage_events
from .store import BucketedParquetUpsertStore

_ACC_COLS = ("n_events", "sum_value", "min_value", "max_value", "event_types")
_LWW_COLS = ("last_ts_ms", "last_event_id", "last_value", "last_event_type")


def batch_partial_docs(batch: DataFrame) -> DataFrame:
    """D9 collapse: one partial doc per guid for this micro-batch."""
    order = F.struct(F.col("ts_ms"), F.col("event_id"))
    return (
        batch.filter(F.col("props").isNotNull())
        .groupBy(F.col("user_id").alias("guid"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.collect_set("event_type").alias("event_types"),
            F.max(order).alias("_last_order"),
            F.max_by("value", order).alias("last_value"),
            F.max_by("event_type", order).alias("last_event_type"),
        )
        .select(
            "guid",
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
            F.array_sort("event_types").alias("event_types"),
            F.col("_last_order.ts_ms").alias("last_ts_ms"),
            F.col("_last_order.event_id").alias("last_event_id"),
            "last_value",
            "last_event_type",
        )
    )


def combine_docs(current: DataFrame, batch: DataFrame) -> DataFrame:
    """Associative doc merge: accumulators add/union, LWW block follows
    the later (ts, event_id). The reference's dict-overwrite (D9) is the
    degenerate single-process case of exactly this combine."""
    cur = current.select(
        "guid", *[F.col(c).alias(f"cur_{c}") for c in _ACC_COLS + _LWW_COLS]
    )
    new = batch.select(
        "guid", *[F.col(c).alias(f"new_{c}") for c in _ACC_COLS + _LWW_COLS]
    )
    joined = cur.join(new, "guid", "full_outer")

    def acc(cur_c: str, new_c: str, how: str) -> F.Column:
        c, n = F.col(f"cur_{cur_c}"), F.col(f"new_{new_c}")
        if how == "sum":
            return c + n
        if how == "min":
            return F.least(c, n)
        if how == "max":
            return F.greatest(c, n)
        return F.array_sort(F.array_union(c, n))  # set union

    batch_wins = (
        F.col("cur_last_ts_ms").isNull()
        | (F.col("new_last_ts_ms") > F.col("cur_last_ts_ms"))
        | (
            (F.col("new_last_ts_ms") == F.col("cur_last_ts_ms"))
            & (F.col("new_last_event_id") > F.col("cur_last_event_id"))
        )
    )

    merged_cols = [
        F.coalesce(
            acc(c, c, how), F.col(f"cur_{c}"), F.col(f"new_{c}")
        ).alias(c)
        for c, how in zip(
            _ACC_COLS, ("sum", "sum", "min", "max", "union"), strict=True
        )
    ]
    lww_cols = [
        F.when(
            F.col(f"new_{c}").isNotNull() & batch_wins, F.col(f"new_{c}")
        )
        .otherwise(F.col(f"cur_{c}"))
        .alias(c)
        for c in _LWW_COLS
    ]
    return joined.select("guid", *merged_cols, *lww_cols)


def finalize_docs(state: DataFrame) -> DataFrame:
    """Hash-stable projection of the store for verification."""
    return state.select(
        "guid",
        "n_events",
        # 2 decimals: partial sums accumulate in batch-arrival order, so
        # coarse rounding absorbs float-reassociation noise vs the oracle.
        F.round("sum_value", 2).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        F.array_join("event_types", ",").alias("event_types"),
        "last_ts_ms",
        F.round("last_value", 6).alias("last_value"),
        "last_event_type",
    )


def run_synchronize(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Run the bounded stream to completion; return the final doc store."""
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "app_search_docs"), key_cols=["guid"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        # The additive combine is NOT naturally idempotent: a crash
        # between the store's pointer swap and the checkpoint commit
        # replays this batch, so the store skips batch_id <= last
        # applied (recorded atomically with each version). The store
        # hands combine_docs only the touched buckets' rows; its
        # full-outer join preserves same-bucket keys the batch does not
        # mention, so untouched buckets cost zero bytes.
        store.merge(batch_partial_docs(batch), combine=combine_docs, batch_id=batch_id)

    replay(
        events_file_stream(spark, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_synchronize"),
    )

    final = store.require_current()
    return finalize_docs(final)
