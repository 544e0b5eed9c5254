"""Streaming KMV distinct-count: a mergeable sketch maintained as
keyed array state across micro-batches.

This is the streaming form of ``queries/sketches.py``'s
``approx_distinct_kmv`` and the payoff of a sketch being MERGEABLE: per
micro-batch the job computes a bounded partial (the k smallest distinct
hashes per group — ≤ k longs regardless of batch size), and folds it
into the stored sketch with union → distinct → re-take-k. The stream
never revisits old data, state is ≤ groups × k longs, and the final
estimate is IDENTICAL to the batch computation over all data — pinned
by tests against the batch query and the DuckDB oracle.

Scale: the per-batch partial is the same window plan the batch query
uses; the state merge touches only the buckets holding the batch's
groups (``BucketedParquetUpsertStore.merge`` with a combine callback —
bounded by touched buckets, not store size). On a real cluster this is
how a 100 TB stream answers "distinct users per key so far" without
keeping the key universe anywhere: the sketch rows ARE the state. The
production swap-in is the identical expressions inside a Delta MERGE.

No reference analogue (the reference has no aggregation state at all —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text as T
from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore

KMV_K = 64

ORDERS_STREAM_SCHEMA = "o_orderpriority string, o_custkey long"


def stage_orders(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Write (priority, custkey) as ``n_files`` orderkey-ordered parquet
    files (idempotent — the staging dir models an immutable topic)."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_custkey"
        ),
        staging_dir,
        n_files,
        "o_orderkey",
    )


def _bottom_k(keyed: DataFrame, key: str, k: int) -> DataFrame:
    """The k smallest distinct hashes ``h`` per ``key``, as one sorted
    array row per key — the same window shape the batch query proves."""
    w = Window.partitionBy(key).orderBy("h")
    return (
        keyed.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy(key)
        .agg(F.array_sort(F.collect_list("h")).alias("sketch"))
    )


def batch_partial(batch: DataFrame, k: int = KMV_K) -> DataFrame:
    """Bounded per-batch partial: the k smallest distinct scrambled
    hashes per priority — ≤ k longs per priority however large the
    batch is."""
    keyed = batch.select(
        F.col("o_orderpriority").alias("priority"),
        T.scrambled_hash(
            F.concat(F.lit("kmv:"), F.col("o_custkey"))
        ).alias("h"),
    )
    return _bottom_k(keyed, "priority", k)


def merge_sketches(
    cur: DataFrame,
    batch: DataFrame,
    k: int = KMV_K,
    key: str = "priority",
) -> DataFrame:
    """Sketch union: per key, keep the k smallest distinct hashes of
    (stored ∪ partial). Pure array expressions — the combine runs
    inside the store's touched-bucket rewrite."""
    merged = cur.select(key, F.col("sketch").alias("_old")).join(
        batch.select(key, F.col("sketch").alias("_new")),
        key,
        "full_outer",
    )
    empty = F.array().cast("array<long>")
    return merged.select(
        key,
        F.slice(
            F.array_sort(
                F.array_distinct(
                    F.concat(
                        F.coalesce(F.col("_old"), empty),
                        F.coalesce(F.col("_new"), empty),
                    )
                )
            ),
            1,
            k,
        ).alias("sketch"),
    )


def run_stream_distinct_sketch(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
    k: int = KMV_K,
) -> DataFrame:
    """Replay the bounded orders stream; return per-priority sketch
    state with the KMV estimate (exact integer arithmetic, identical to
    the batch query's merge stage)."""
    staging = stage_orders(
        spark, sf_dir, os.path.join(workdir, "staging_orders"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "sketch_state"),
        key_cols=["priority"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        partial = batch_partial(batch, k)
        store.merge(
            partial,
            combine=lambda cur, b: merge_sketches(cur, b, k),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, ORDERS_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_sketch"),
    )

    final = store.require_current()
    # A sketch with fewer than k hashes (a partial stream) has no k-th
    # hash: NULL estimate, as the oracle's max(CASE WHEN rn = k ...).
    kth = F.try_element_at("sketch", F.lit(k))
    return final.select(
        "priority",
        F.lit(k).alias("k"),
        F.size("sketch").alias("sketch_size"),
        kth.alias("kth_hash"),
        F.expr(f"({k - 1} * {T.HASH_MOD}L) div try_element_at(sketch, {k})").alias(
            "est_distinct"
        ),
    )


def run_stream_windowed_distinct(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
    k: int = KMV_K,
) -> DataFrame:
    """Distinct users per hourly event-time window, maintained as
    per-window KMV sketches across micro-batches — the composition of
    event-time windowing with the mergeable sketch that replaces
    exact per-window distinct state at scale.

    Below k distinct values the sketch IS the distinct set, so the
    estimate is exact (the standard KMV regime split); above k it
    switches to the (k-1)*M/h_k estimator. Window state is bounded by
    (windows seen × k longs) — contrast exact streaming distinct,
    whose state carries every (window, user) pair.
    """
    from .sources import events_file_stream, stage_events

    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "window_sketches"),
        key_cols=["window_start_ms"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        keyed = batch.select(
            F.unix_millis(
                F.date_trunc("hour", F.timestamp_millis(F.col("ts_ms")))
            ).alias("window_start_ms"),
            T.scrambled_hash(
                F.concat(F.lit("wdu:"), F.col("user_id"))
            ).alias("h"),
        )
        store.merge(
            _bottom_k(keyed, "window_start_ms", k),
            combine=lambda cur, b: merge_sketches(
                cur, b, k, key="window_start_ms"
            ),
            batch_id=batch_id,
        )

    replay(
        events_file_stream(spark, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_wdu"),
    )

    final = store.require_current()
    size = F.size("sketch")
    est = F.when(size < k, size.cast("long")).otherwise(
        F.expr(f"({k - 1} * {T.HASH_MOD}L) div element_at(sketch, {k})")
    )
    return final.select(
        "window_start_ms",
        size.alias("sketch_size"),
        est.alias("est_distinct"),
    )
