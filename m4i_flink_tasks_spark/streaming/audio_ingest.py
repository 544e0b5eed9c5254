"""Streaming audio-analysis catalog — the audio family's streaming
twin (alongside ``media_ingest`` for containers and ``image_dedup``
for images, this completes the modality x streaming matrix).

Tone clips arrive as a bounded binary stream; each micro-batch runs
the SAME Arrow-batched decode + rFFT kernel as the batch query
(``operators/audio.py``) and upserts per-clip spectral features into
an insert-only doc_id-keyed catalog. Feature extraction is a pure
per-row function of the payload, so the catalog is batch-split
invariant by construction and the batch ``audio_spectral_profile``
oracle checks the streamed run verbatim.

Scale: per batch one Arrow pass over the batch's clips (O(n log n)
rFFT per clip), store merge touches only the batch's buckets. A real
deployment swaps the staged files for a binaryFile/cloudFiles stream
over an object-store landing zone with the same sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audio import attach_tone_payload, extract_spectral_features
from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore

AUDIO_STREAM_SCHEMA = "doc_id bigint, payload binary"


def stage_audio(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Write the tone payloads as ``n_files`` doc_id-ranged parquet
    files with strictly increasing mtimes (idempotent)."""
    return stage_ordered_topic(
        lambda: attach_tone_payload(
            load_table(spark, sf_dir, "documents")
        ).withColumn("_ord", F.col("doc_id")),
        staging_dir,
        n_files,
        "_ord",
    )


def run_stream_audio_ingest(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded clip stream; return the spectral catalog —
    row-identical to the batch ``audio_spectral_profile``."""
    staging = stage_audio(
        spark, sf_dir, os.path.join(workdir, "staging_audio"), n_files
    )
    catalog = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "audio_catalog"), key_cols=["doc_id"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        catalog.merge(
            extract_spectral_features(batch.select("doc_id", "payload")),
            batch_id=batch_id,
            insert_only=True,
        )

    replay(
        file_stream(spark, AUDIO_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_audio_ingest"),
    )

    final = catalog.require_current()
    # same rounding projection as the batch query's declared columns
    return final.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        F.round("peak_hz", 4).alias("peak_hz"),
        F.round("centroid_hz", 4).alias("centroid_hz"),
        F.round("hf_power_ratio", 6).alias("hf_power_ratio"),
        F.round("dc_level", 6).alias("dc_level"),
    ).orderBy("doc_id")
