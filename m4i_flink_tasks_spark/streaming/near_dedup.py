"""Streaming MinHash-LSH near-duplicate removal — cross-batch near-dedup
with bounded per-batch cost.

``corpus_ingest`` removes EXACT duplicates across batches; this module
removes NEAR duplicates (3-gram shingle Jaccard >= threshold, the same
verified-LSH semantics as the batch operator ``ngram_jaccard_pairs``).
The survivorship rule is the batch rule ("the higher doc_id of each
verified pair drops"), which depends only on comparisons against ALL
previously-seen documents — not on those documents' own accept/drop
status — so the decision is batch-split invariant and one batch SQL
statement oracles the incremental run.

State, all in bucketed log-structured stores (O(touched buckets) per
batch, never O(store)):

- ``band_index`` keyed ``(band_idx, band_key)`` -> array of seen
  doc_ids. New batch band keys read ONLY their buckets
  (``current_for_keys``) to find prior candidates; the merge unions
  doc_id lists per key (an aggregating combine).
- ``signatures`` keyed ``doc_id`` -> shingle-hash array, insert-only
  appends. Read bucket-pruned for exactly the prior docs that became
  candidates (the verify step's working set).
- ``accepted`` keyed ``doc_id`` — the output corpus, insert-only.

Scale: per batch the wide operations are the in-batch band self-join
and the candidate verify join, both proportional to the batch and its
candidate set; state reads are pruned to touched buckets. At 100 TB
the stores are Delta tables with the same keyed contracts, and the
band index is exactly the LSH posting-list layout a search engine
shards. The signature kernel is the batch pipeline's Arrow-batched
pandas UDF (``operators/dedup.py::minhash_frame``) — bit-identical
arithmetic to the DuckDB oracle.

Reference parity: no streaming near-dedup exists in the reference (its
streams carry metadata events, not corpus text); this extends the
north-star LLM family to streams as SURVEY §2.6 requires
(batch+stream capable).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.dedup import jaccard, minhash_frame
from .corpus_ingest import DOC_STREAM_SCHEMA, stage_documents
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore, merge_many, monoid_combine

JACCARD_THRESHOLD = 0.5


# The band index: per (band_idx, band_key), the union of previously
# seen and newly arrived doc_id lists.
_union_doc_ids = monoid_combine(["band_idx", "band_key"], {"doc_ids": "union"})


def dedup_batch(
    band_store: BucketedParquetUpsertStore,
    sig_store: BucketedParquetUpsertStore,
    out_store: BucketedParquetUpsertStore,
    batch: DataFrame,
    batch_id: int,
    threshold: float = JACCARD_THRESHOLD,
) -> None:
    """Process one micro-batch: accept every doc with no verified
    near-dup among (a) all docs of earlier batches and (b) lower-id
    docs of this batch; then fold the batch into the band/signature
    state. Documents too short to shingle can never collide and are
    accepted with n_shingles = 0."""
    mh = minhash_frame(batch, "doc_id", "text", n=3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    batch_bands = mh.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_key")
    )

    # Prior candidates: bucket-pruned read of only the band-index
    # buckets this batch's keys touch. The touched-bucket list is
    # computed ONCE and reused by the band-store merge below — the
    # read and the merge share the same key set, so without this each
    # ran its own distinct+collect job per micro-batch.
    band_touched = (
        band_store.touched_buckets(batch_bands)
        if band_store.has_state()
        else None
    )
    prior = (
        band_store.current_for_buckets(band_touched)
        if band_touched is not None
        else None
    )
    cand_prior = None
    if prior is not None:
        cand_prior = (
            batch_bands.join(prior, ["band_idx", "band_key"])
            .select(
                F.explode("doc_ids").alias("id_a"),
                F.col("doc_id").alias("id_b"),
            )
        )
    left = batch_bands.alias("l")
    right = batch_bands.alias("r")
    cand_batch = left.join(
        right,
        (F.col("l.band_idx") == F.col("r.band_idx"))
        & (F.col("l.band_key") == F.col("r.band_key"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
    cands = (
        (
            cand_batch
            if cand_prior is None
            else cand_prior.unionByName(cand_batch)
        )
        .dropDuplicates(["id_a", "id_b"])
        # Two consumers (the signature-store bucket probe collects it,
        # the verify join re-reads it) — without this the band
        # self-join + dedup shuffle runs twice per micro-batch.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # Verify signatures: id_b is always in this batch; id_a is either
    # in-batch or read bucket-pruned from the signature store.
    sigs = mh.select("doc_id", "sh")
    prior_sigs = sig_store.current_for_keys(
        cands.select(F.col("id_a").alias("doc_id"))
    )
    if prior_sigs is not None:
        sigs = sigs.unionByName(prior_sigs.select("doc_id", "sh"))
    verified = (
        cands.join(
            sigs.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            mh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .filter(
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6) >= threshold
        )
    )
    dropped = verified.select(F.col("id_b").alias("doc_id")).distinct()

    accepted = (
        batch.select("doc_id")
        .join(
            mh.select("doc_id", F.size("sh").alias("n_shingles")),
            "doc_id",
            "left",
        )
        .fillna(0, subset=["n_shingles"])
        .join(F.broadcast(dropped), "doc_id", "left_anti")
    )
    band_agg = batch_bands.groupBy("band_idx", "band_key").agg(
        F.collect_list("doc_id").alias("doc_ids")
    )
    # The three store merges are independent (separate directories,
    # separate pointers; every input DataFrame reads either the
    # persisted mh or parquet segment paths pinned before any write
    # starts), so merge_many writes them in ONE job: one job tail and
    # one commit protocol per micro-batch instead of three.
    merge_many(
        [
            {
                "store": out_store,
                "batch": accepted,
                "batch_id": batch_id,
                "insert_only": True,
            },
            {
                "store": band_store,
                "batch": band_agg,
                "combine": _union_doc_ids,
                "batch_id": batch_id,
                # band_agg groups batch_bands by key, so its key set is
                # exactly the one band_touched was computed from.
                "touched_buckets": band_touched,
            },
            {
                "store": sig_store,
                "batch": mh.select("doc_id", "sh"),
                "batch_id": batch_id,
                "insert_only": True,
            },
        ]
    )
    cands.unpersist()
    mh.unpersist()


def run_stream_near_dedup(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Replay the bounded document stream; return the near-dedup
    survivor set ``(doc_id, n_shingles)``."""
    staging = stage_documents(
        spark, sf_dir, os.path.join(workdir, "staging_docs"), n_files
    )
    band_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "band_index"),
        key_cols=["band_idx", "band_key"],
    )
    sig_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "signatures"), key_cols=["doc_id"]
    )
    out_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "accepted"), key_cols=["doc_id"]
    )

    replay(
        file_stream(spark, DOC_STREAM_SCHEMA, staging, max_files_per_trigger),
        partial(dedup_batch, band_store, sig_store, out_store, threshold=threshold),
        os.path.join(workdir, "ckpt_near_dedup"),
    )

    return out_store.require_current()
