"""Streaming WARC crawl ingest: per-micro-batch record extraction into
an insert-only store.

Companion to ``queries/llm_corpus.py`` ``warc_response_extraction``:
a crawl lands as shards of .warc.gz archives; each micro-batch walks
its archives' gzip members (operators/warc.py — real member-split and
record-parse mechanics) and APPENDS the per-response rows to the
corpus store. Record keys (doc_id, rec_index) are unique by
construction, so the merge is insert-only — O(batch) regardless of
store size, the ingest cost profile a 100 TB crawl needs — and the
final store equals the batch extraction for any batch split, so the
batch oracle oracles the stream.

Reference scope: no binary/web-archive surface (SURVEY §2.6);
north-star crawl-curation plumbing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore

DOC_ID_STREAM_SCHEMA = "doc_id bigint"


def stage_doc_ids(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Stage the crawl's archive ids (one .warc.gz per doc_id),
    ``n_files`` id-ordered parquet files (idempotent immutable-topic
    model). The binary payloads are synthesized per batch on the
    executor side — exactly where a crawl reader decompresses them."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "documents").select(
            "doc_id", F.col("doc_id").alias("order_id")
        ),
        staging_dir,
        n_files,
        "order_id",
    )


def run_stream_warc_ingest(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    from ..operators.warc import attach_warc_payload, extract_warc_records

    staging = stage_doc_ids(
        spark, sf_dir, os.path.join(workdir, "staging_ids"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "warc_records"),
        key_cols=["doc_id", "rec_index"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        records = extract_warc_records(attach_warc_payload(batch))
        store.merge(records, insert_only=True, batch_id=batch_id)

    replay(
        file_stream(spark, DOC_ID_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_warc"),
    )

    state = store.require_current()
    return state.orderBy("doc_id", "rec_index")


def run_stream_warc_quarantine(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Crawl ingest with the dead-letter SIDE CHANNEL (S3 contract) on
    the binary path: each micro-batch walks its archives through the
    quarantine extractor; healthy per-archive rows land in the corpus
    store and poisoned archives in a separate dead-letter store — both
    insert-only on unique doc_id keys, so the union equals the batch
    ``warc_ingest_quarantine`` for any batch split and shares its
    oracle. One walk per batch; the split is a cached filter pair, the
    same shape as the CDC dead-letter box."""
    from ..operators.warc import (
        attach_corrupted_warc_payload,
        extract_warc_with_quarantine,
    )

    staging = stage_doc_ids(
        spark, sf_dir, os.path.join(workdir, "staging_ids"), n_files
    )
    ok_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "ok_records"), key_cols=["doc_id"]
    )
    dead_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "dead_letters"), key_cols=["doc_id"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        walked = extract_warc_with_quarantine(
            attach_corrupted_warc_payload(batch)
        ).persist()
        ok_store.merge(
            walked.filter(F.col("status") == "ok"),
            insert_only=True,
            batch_id=batch_id,
        )
        dead_store.merge(
            walked.filter(F.col("status") == "dead_letter"),
            insert_only=True,
            batch_id=batch_id,
        )
        walked.unpersist()

    replay(
        file_stream(spark, DOC_ID_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_quarantine"),
    )

    ok = ok_store.require_current()
    dead = dead_store.require_current()
    return ok.unionByName(dead).orderBy("doc_id")


def run_stream_warc_text(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """The crawl→corpus capstone as a stream: each micro-batch walks
    its archives' gzip members to raw HTML, runs the SHARED WET
    strip/score/gate expressions (queries/llm_corpus.py
    ``wet_gate_records`` — the batch capstone's own dataflow), and
    APPENDS the gated rows insert-only. Keys (doc_id, rec_index) are
    unique by construction, so the store equals the batch
    ``warc_text_pipeline`` for any batch split and shares its
    closed-form oracle."""
    from ..operators.warc import attach_warc_html_payload, extract_warc_html
    from ..queries.llm_corpus import wet_gate_records

    staging = stage_doc_ids(
        spark, sf_dir, os.path.join(workdir, "staging_ids"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "wet_records"),
        key_cols=["doc_id", "rec_index"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        gated = wet_gate_records(
            extract_warc_html(attach_warc_html_payload(batch))
        )
        store.merge(gated, insert_only=True, batch_id=batch_id)

    replay(
        file_stream(spark, DOC_ID_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_wet"),
    )

    state = store.require_current()
    return state.orderBy("doc_id", "rec_index")
