"""Streaming perceptual image dedup — cross-batch keep-first by
average hash.

Image payloads arrive as a bounded binary stream (the multimodal
landing-zone stand-in); each micro-batch decodes + hashes through the
SAME Arrow-batched aHash kernel as the batch query
(``operators/image_hash.py``) and folds per-hash group facts into
keyed state: ``n_docs`` via SUM and ``keep_doc_id`` via MIN — both
commutative monoids, so the maintained groups are batch-split
invariant and the batch ``image_perceptual_dedup`` oracle checks the
incremental run verbatim.

State: one row per DISTINCT perceptual hash (content diversity, not
corpus size) — the image twin of the text near-dedup band store. The
readout recomputes the pure doc->hash mapping from the staged replay
and joins the maintained group state (broadcast — the group dimension
is collapsed), reproducing the batch per-doc verdicts.

No reference analogue (north-star multimodal-dedup streaming scope).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.image_hash import attach_pattern_payload, extract_ahash
from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore, monoid_combine

IMAGE_STREAM_SCHEMA = "doc_id bigint, payload binary"


def stage_images(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Write the patterned image payloads as ``n_files`` doc_id-ranged parquet
    files with strictly increasing mtimes (idempotent)."""
    return stage_ordered_topic(
        lambda: attach_pattern_payload(
            load_table(spark, sf_dir, "documents")
        ).withColumn("_ord", F.col("doc_id")),
        staging_dir,
        n_files,
        "_ord",
    )


def _batch_groups(batch: DataFrame) -> DataFrame:
    """Per-batch partial group facts from the shared aHash kernel."""
    return (
        extract_ahash(batch.select("doc_id", "payload"))
        .groupBy("ahash_hi", "ahash_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def run_stream_image_dedup(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded image stream, maintain per-hash group state,
    then emit per-doc verdicts — identical to the batch
    ``image_perceptual_dedup``."""
    staging = stage_images(
        spark, sf_dir, os.path.join(workdir, "staging_images"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "ahash_groups"),
        key_cols=["ahash_hi", "ahash_lo"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            _batch_groups(batch),
            combine=monoid_combine(
                ["ahash_hi", "ahash_lo"], {"n_docs": "sum", "keep_doc_id": "min"}
            ),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, IMAGE_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_imgdedup"),
    )

    groups = store.require_current()
    # readout: pure doc->hash recompute over the bounded replay,
    # joined to the maintained (collapsed, broadcastable) group state
    staged = spark.read.schema(IMAGE_STREAM_SCHEMA).parquet(staging)
    hashed = extract_ahash(staged.select("doc_id", "payload"))
    return (
        hashed.join(
            F.broadcast(groups.select(
                "ahash_hi", "ahash_lo",
                F.col("n_docs").alias("group_size"), "keep_doc_id",
            )),
            ["ahash_hi", "ahash_lo"],
        )
        .select(
            "doc_id", "ahash_hi", "ahash_lo", "group_size", "keep_doc_id",
            (F.col("doc_id") != F.col("keep_doc_id")).alias("is_dup"),
        )
        .orderBy("doc_id")
    )
