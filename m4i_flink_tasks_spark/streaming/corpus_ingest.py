"""Streaming corpus ingestion: the north-star corpus-curation kernels
(queries/llm_corpus.py, queries/llm_text.py) run INSIDE a Structured
Streaming pipeline, proving the family is stream-capable (SURVEY §2.6
requires the LLM-pipeline operators batch+stream capable).

Per micro-batch, each arriving document is scored (language ID, quality,
token count — all whole-stage-codegen expressions), PII-scrubbed, gated,
and exact-deduplicated against EVERY document already accepted in prior
batches: the store is keyed by content fingerprint and merged
``insert_only``, so a re-arriving or duplicated text body loses to the
first acceptance — keep-first survivorship with O(batch) merge cost via
the bucketed log-structured store (no O(store) rewrite per batch).

Scale: the in-batch collapse is a fingerprint hash-aggregate; the
cross-batch dedup is the store's keyed anti-join against only the
touched buckets. State grows with the ACCEPTED corpus (the store IS the
output), not with a watermark horizon — contrast stream_dedup.py, whose
state is transient. At 100 TB the same contract is a Delta MERGE with
``WHEN NOT MATCHED THEN INSERT`` only.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore

QUALITY_FLOOR = 0.5

DOC_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def stage_documents(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Write the documents table as ``n_files`` doc_id-ordered parquet
    files (idempotent, like sources.stage_events: the staging dir models
    an immutable topic, so restarts must see identical files)."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            "lang",
            "source",
            "n_chars",
            F.col("doc_id").alias("_ord"),
        ),
        staging_dir,
        n_files,
        "_ord",
    )


def score_and_scrub(docs: DataFrame) -> DataFrame:
    """The per-document curation projection — identical expressions to
    the batch queries (language_id / quality_scores /
    document_fingerprints) plus the email/phone scrub, one scan, no
    shuffle."""
    from ..queries.llm_corpus import _EMAIL_RE, _PHONE_RE

    return docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("predicted_lang"),
        T.token_count(F.col("text")).alias("n_tokens"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality"),
        T.fingerprint(F.col("text")).alias("fingerprint"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed_text"),
    )


def curate_batch(batch: DataFrame) -> DataFrame:
    """Gate + in-batch keep-first collapse (lowest doc_id per
    fingerprint — deterministic regardless of partitioning)."""
    kept = score_and_scrub(batch).filter(
        (F.col("predicted_lang") != "und")
        & (F.col("quality") >= QUALITY_FLOOR)
    )
    first = kept.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    return kept.join(first, ["fingerprint", "doc_id"])


def ingest_batch(
    store: BucketedParquetUpsertStore, batch: DataFrame, batch_id: int
) -> None:
    """Curate one micro-batch and merge it keep-first into the store.

    Cross-batch keep-first is enforced HERE, not assumed: a fingerprint
    already accepted in a previous batch is anti-joined away against
    the store's touched buckets before the ``insert_only`` append —
    ``insert_only``'s contract requires batch keys to be new, and
    re-arriving content is exactly the case a dedup sink exists for.
    The screen is a bucket-pruned READ (``current_for_keys``), so the
    merge stays O(batch + touched-bucket reads) with no store rewrite —
    the Delta equivalent is ``MERGE … WHEN NOT MATCHED THEN INSERT``.
    Files arrive in doc_id order, so "first" is also the lowest doc_id
    globally, which is what the DuckDB oracle reproduces.
    """
    fresh = curate_batch(batch)
    existing = store.current_for_keys(fresh.select("fingerprint"))
    if existing is not None:
        fresh = fresh.join(
            existing.select("fingerprint"), "fingerprint", "left_anti"
        )
    store.merge(fresh, batch_id=batch_id, insert_only=True)


def run_corpus_ingest(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded document stream; return the accepted corpus."""
    staging = stage_documents(
        spark, sf_dir, os.path.join(workdir, "staging_docs"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "accepted_corpus"),
        key_cols=["fingerprint"],
    )

    replay(
        file_stream(spark, DOC_STREAM_SCHEMA, staging, max_files_per_trigger),
        partial(ingest_batch, store),
        os.path.join(workdir, "ckpt_ingest"),
    )

    final = store.require_current()
    return final.select(
        "doc_id",
        "predicted_lang",
        "n_tokens",
        "quality",
        "fingerprint",
        "scrubbed_text",
    )
