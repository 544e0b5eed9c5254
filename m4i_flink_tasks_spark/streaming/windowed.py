"""Watermarked event-time windowed aggregation as a streaming pipeline.

The reference has no event-time windowing at all (SURVEY §2.6; the only
watermark mention is its didactic example's monotonous-timestamps
strategy, examples/stream_processing_example.py:42). This is the
driver-added capability: a tumbling-window count/sum with a real
watermark, running on the same bounded replay as the other pipelines.

Output mode is **update** + keyed merge (window_start, event_type): each
micro-batch emits the windows it touched, the store collapses them
last-writer-wins. Append mode would be wrong for a bounded replay — the
watermark never advances past the final event, so the tail windows would
never be finalized or emitted; with update+merge the final store equals
the batch answer exactly, late data within the watermark included.

Scale: windowed state is bounded by (watermark horizon × group
cardinality); the merge touches only windows seen in the batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import replay
from .sources import events_file_stream, stage_events
from .store import BucketedParquetUpsertStore


def windowed_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour tumbling event-time windows per event_type, late data
    tolerated up to the watermark."""
    with_ts = stream.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    return (
        with_ts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _maintained_windows(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int,
    max_files_per_trigger: int | None,
    store_name: str,
    checkpoint_name: str,
) -> DataFrame:
    """Replay the bounded event stream into a keyed store of hourly
    window counts; return the final windows."""
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    # Update-mode window emission re-delivers recent windows as they
    # fill; keyed upsert touches only the buckets of the batch's
    # (window, type) keys — old closed windows are never rewritten.
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, store_name),
        key_cols=["window_start_ms", "event_type"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(batch, batch_id=batch_id)

    replay(
        windowed_counts(events_file_stream(spark, staging, max_files_per_trigger)),
        sink,
        os.path.join(workdir, checkpoint_name),
        output_mode="update",
    )
    return store.require_current()


def run_windowed_counts(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Run the bounded stream to completion; return the final windows."""
    final = _maintained_windows(
        spark, sf_dir, workdir, n_files, max_files_per_trigger,
        "windowed_counts", "ckpt_windowed",
    )
    return final.select(
        "window_start_ms",
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def run_stream_rate_anomalies(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Streaming anomaly detection over the maintained hourly counts:
    the micro-batch pipeline keeps the same watermarked tumbling-window
    store as ``run_windowed_counts`` (update-mode keyed upsert, so the
    final counts equal the batch aggregate exactly), and the readout
    scores each window against its trailing 6-window baseline with the
    identical window arithmetic as the batch query — z rounded BEFORE
    the ±2 flag, cold-start windows unscored. The monitoring readout is
    a window over the tiny (hours × types) state, so it costs the same
    whether the state was built from one batch or a thousand."""
    from pyspark.sql import Window

    hourly = _maintained_windows(
        spark, sf_dir, workdir, n_files, max_files_per_trigger,
        "anomaly_counts", "ckpt_anomaly",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("window_start_ms")
        .rowsBetween(-6, -1)
    )
    scored = hourly.select(
        "window_start_ms",
        "event_type",
        "n_events",
        F.count("n_events").over(w).alias("n_baseline"),
        F.avg("n_events").over(w).alias("baseline_avg"),
        F.stddev_samp("n_events").over(w).alias("baseline_std"),
    ).filter(F.col("n_baseline") >= 3)
    z = F.when(
        F.col("baseline_std") > 0,
        (F.col("n_events") - F.col("baseline_avg"))
        / F.col("baseline_std"),
    ).otherwise(F.lit(0.0))
    return scored.select(
        "window_start_ms",
        "event_type",
        "n_events",
        F.round("baseline_avg", 4).alias("baseline_avg"),
        F.round(z, 4).alias("z_score"),
        (F.abs(F.round(z, 4)) > 2).alias("is_anomaly"),
    ).orderBy("window_start_ms", "event_type")
