"""Streaming span-level exact dedup — cross-batch duplicate k-token
windows over the document stream.

The streaming member of the span family (`queries/llm_dedup.py`
``duplicate_span_stats``): every micro-batch contributes its windows'
per-(hash, doc) counts and per-doc totals to ADDITIVE keyed state, and
the readout recomputes the duplicate surface from state. Because every
maintained quantity is a commutative monoid fold (counts add, first
positions take min), the streamed state equals the batch computation
EXACTLY for any batch split and across restarts — the same argument as
``incremental_agg`` — so the batch SQL oracle checks the incremental
run verbatim.

State, in bucketed log-structured stores (O(touched buckets)/batch):

- ``span_counts`` keyed ``(h, doc_id)`` -> (n, min_pos): additive
  count + min-combine of window positions. The per-(hash, doc) keying
  is what keeps the state mergeable — distinct-doc counts per hash
  fall out of a readout aggregation instead of a set-valued state.
- ``doc_totals`` keyed ``doc_id`` -> n_windows (insert-only: each doc
  arrives once; replays are absorbed by the store's idempotent batch
  guard).

Readout: hashes with >= 2 distinct docs are the duplicate surface;
join back to per-doc counts — the exact two-level aggregation of the
batch query.

Scale: per batch the only wide operation is the window explode + one
hash aggregation of the batch itself; state merges touch only the
buckets the batch's (h, doc_id) keys hash to. No reference analogue
(SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.llm_dedup import _span_windows
from .corpus_ingest import DOC_STREAM_SCHEMA, stage_documents
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore, merge_many, monoid_combine


def spans_batch(
    count_store: BucketedParquetUpsertStore,
    total_store: BucketedParquetUpsertStore,
    batch: DataFrame,
    batch_id: int,
) -> None:
    # The window explode + per-token hash is the expensive part of the
    # batch and BOTH aggregations consume it — persist so it runs once
    # per micro-batch instead of once per merge (no cross-run cache:
    # the micro-batch frame is unique to this batch).
    from pyspark.storagelevel import StorageLevel

    wins = _span_windows(batch).persist(StorageLevel.MEMORY_AND_DISK)
    per_key = wins.groupBy("h", "doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.min("pos").alias("min_pos")
    )
    totals = wins.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    # Independent stores (separate directories/pointers): merge_many
    # writes both in ONE job — one job tail and one commit protocol
    # per micro-batch instead of two.
    merge_many(
        [
            {
                "store": count_store,
                "batch": per_key,
                "combine": monoid_combine(
                    ["h", "doc_id"], {"n": "sum", "min_pos": "min"}
                ),
                "batch_id": batch_id,
            },
            {
                "store": total_store,
                "batch": totals,
                "batch_id": batch_id,
                "insert_only": True,
            },
        ]
    )
    wins.unpersist()


def span_stats_readout(
    count_store: BucketedParquetUpsertStore,
    total_store: BucketedParquetUpsertStore,
) -> DataFrame:
    """The batch query's exact output shape, recomputed from state."""
    counts = count_store.require_current()
    totals = total_store.require_current()
    rep = (
        counts.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    flagged = (
        counts.join(rep, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_dup_windows"),
            F.min("min_pos").alias("first_dup_pos"),
        )
    )
    return (
        totals.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            F.round(
                F.coalesce(F.col("n_dup_windows"), F.lit(0))
                / F.col("n_windows"),
                6,
            ).alias("dup_span_frac"),
            "first_dup_pos",
        )
        .orderBy("doc_id")
    )


def run_stream_span_dedup(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded document stream; return the per-doc duplicate
    span profile from the maintained state."""
    staging = stage_documents(
        spark, sf_dir, os.path.join(workdir, "staging_docs"), n_files
    )
    count_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "span_counts"), key_cols=["h", "doc_id"]
    )
    total_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "doc_totals"), key_cols=["doc_id"]
    )

    replay(
        file_stream(spark, DOC_STREAM_SCHEMA, staging, max_files_per_trigger),
        partial(spans_batch, count_store, total_store),
        os.path.join(workdir, "ckpt_spans"),
    )
    return span_stats_readout(count_store, total_store)
