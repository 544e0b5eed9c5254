"""Streaming media-ingest catalog — the multimodal family's streaming
twin (SURVEY §2.6 requires the north-star families batch+stream
capable).

Media payloads arrive as a bounded binary stream (the stand-in for a
binaryFile-source watch over an object-store landing zone); each
micro-batch demuxes the CONTAINER layer (``demux_container``:
MP3/Ogg/MP4/WebM — duration, dims, frame counts, codec id) through the
same Arrow-batched ``mapInPandas`` kernel as the batch query and
upserts the per-document metadata into an insert-only catalog store.
Demux is a pure per-row function of the payload, so the final catalog
is batch-split invariant by construction and the batch demux query's
DuckDB oracle (``CONTAINER_DEMUX_SQL``) oracles the stream.

Scale: per batch the work is one Arrow pass over the batch's payloads
(the decode profile of ``multimodal_features``); the store merge
touches only the batch's buckets. A real deployment swaps the staged
files for ``cloudFiles``/``binaryFile`` streaming with the same sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    attach_container_payload,
    extract_container_metadata,
)
from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore

MEDIA_STREAM_SCHEMA = "doc_id bigint, payload binary"


def stage_media(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Write the synthesized container payloads as ``n_files`` doc_id-ranged parquet
    files with strictly increasing mtimes (idempotent)."""
    return stage_ordered_topic(
        lambda: attach_container_payload(
            load_table(spark, sf_dir, "documents")
        ).withColumn("_ord", F.col("doc_id")),
        staging_dir,
        n_files,
        "_ord",
    )


def run_stream_media_ingest(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded media stream; return the demuxed catalog —
    row-identical to the batch ``multimodal_container_demux`` query."""
    staging = stage_media(
        spark, sf_dir, os.path.join(workdir, "staging_media"), n_files
    )
    catalog = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "media_catalog"), key_cols=["doc_id"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        catalog.merge(
            extract_container_metadata(batch.select("doc_id", "payload")),
            batch_id=batch_id,
            insert_only=True,
        )

    replay(
        file_stream(spark, MEDIA_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_media_ingest"),
    )

    final = catalog.require_current()
    return final.select(
        "doc_id",
        "container",
        "codec",
        "width",
        "height",
        "n_frames",
        "sample_rate",
        "n_samples",
        "duration_ms",
    )
