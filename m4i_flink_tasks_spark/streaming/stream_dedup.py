"""Streaming deduplication with bounded state — ``dropDuplicatesWithinWatermark``.

The reference has no dedup anywhere (SURVEY §2.6); at-least-once Kafka
delivery (commit-on-checkpoint, get_entity_job.py:111) means its sinks
see duplicates and survive only by idempotent doc ids. This pipeline is
the missing primitive for that delivery model and for LLM-data ingest:
drop re-delivered records **in the stream**, keeping per-key state only
for the watermark horizon — the state-bounded alternative to a global
``dropDuplicates`` whose state would grow with the full 100 TB history.

Duplicates are synthesized deterministically inside the stream (every
10th event re-arrives 30 minutes later, inside the 2-hour watermark)
and differ from the original ONLY in event time, so the surviving copy
is value-identical whichever arrival wins — which lets the DuckDB
oracle be the plain distinct input.

Unlike windowed aggregation, the dedup operator emits each first
arrival immediately (no watermark wait), so append-style
``foreachBatch`` merges see every unique record in the batch where it
first appeared.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import replay
from .sources import events_file_stream, stage_events
from .store import BucketedParquetUpsertStore


def with_synthetic_redelivery(stream: DataFrame) -> DataFrame:
    """Every 10th event appears twice: original, plus a copy 30 minutes
    later (same payload, later event time) — the at-least-once
    re-delivery shape."""
    with_ts = stream.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    return (
        with_ts.withColumn(
            "_copy",
            F.explode(
                F.when(
                    F.col("event_id") % 10 == 0,
                    F.array(F.lit(0), F.lit(1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .withColumn(
            "ts",
            F.when(
                F.col("_copy") == 1,
                F.col("ts") + F.expr("INTERVAL 30 MINUTES"),
            ).otherwise(F.col("ts")),
        )
        .drop("_copy", "ts_ms")
    )


def dedup_within_watermark(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """First arrival per event_id wins; later re-deliveries inside the
    watermark horizon are dropped with O(keys-in-horizon) state."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_stream_dedup(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded stream with synthetic re-delivery; return the
    final deduplicated store."""
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    # dropDuplicatesWithinWatermark guarantees first-arrival-only
    # emission per event_id -> append-only store, O(batch) per batch.
    store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "deduped_events"), key_cols=["event_id"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(batch, batch_id=batch_id, insert_only=True)

    replay(
        dedup_within_watermark(
            with_synthetic_redelivery(
                events_file_stream(spark, staging, max_files_per_trigger)
            )
        ),
        sink,
        os.path.join(workdir, "ckpt_dedup"),
    )

    final = store.require_current()
    return final.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 6).alias("value"),
    )
