"""Streaming SemDeDup — cross-batch semantic deduplication with
cluster-pruned state reads.

The batch operator (``queries/llm_similarity.py::semantic_dedup``,
Abbas et al. 2023) marks a vector duplicate iff some lower-id vector in
its k-means cluster sits at cosine >= tau. That verdict depends only on
comparisons against ALL lower-id cluster members — never on those
members' own verdicts — so under vec_id-ordered ingest (the embedding
producer's append order, same assumption as the streaming near-dedup)
the decision is batch-split invariant: prior batches hold exactly the
lower-id members, and the in-batch half is the lower-id triangle. The
incremental run therefore reproduces the batch query row for row, and
the batch DuckDB oracle (``SEMANTIC_DEDUP_SQL``) oracles the stream.

State, in bucketed log-structured stores (O(touched buckets) per batch):

- ``cluster_index`` keyed ``label`` -> array of seen vec_ids (the
  aggregating union combine — the posting list of each cluster).
- ``members`` keyed ``vec_id`` -> (label, embedding), insert-only.
  Read bucket-pruned for exactly the prior members of the batch's
  touched clusters (the pairwise step's working set).
- ``verdicts`` keyed ``vec_id`` -> (label, nn_sim, is_dup), insert-only
  — the output, identical in shape and content to the batch query.

DUPLICATES STAY IN STATE: the batch rule compares every vector against
all lower-id cluster members regardless of their verdicts, so dropped
vectors still join the member store (matching the batch nn semantics
exactly; SemDeDup's own dedup-against-everything definition).

Scale: per batch the pairwise work is (batch x prior-members-of-touched
-clusters) + the in-batch triangle, both bounded by cluster sizes (size
k proportional to n keeps them constant — SCALE.md); state reads prune
to the clusters the batch touches. No reference analogue (SURVEY §2.6);
north-star scope.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.similarity import cosine
from .ann_index import EMBEDDINGS_STREAM_SCHEMA, stage_embeddings
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore, monoid_combine

SEM_TAU = 0.3  # must match queries/llm_similarity.py::_SEM_TAU


def semantic_dedup_batch(
    index_store: BucketedParquetUpsertStore,
    member_store: BucketedParquetUpsertStore,
    out_store: BucketedParquetUpsertStore,
    batch: DataFrame,
    batch_id: int,
    tau: float = SEM_TAU,
) -> None:
    """Process one micro-batch of (vec_id, embedding, label) rows.

    The micro-batch frame and the unioned probe side are materialized
    (repartition + persist) before the pairwise join: the raw
    foreachBatch frame arrives as a generic-row RDD with one partition
    per source file, and probing the label hash relation with the
    interpreted cosine fold over those rows measured ~15x slower than
    over cached columnar rows at the sf1 rehearsal (199 s -> 32 s
    end-to-end; SCALE.md). The persist also stops the 5-consumer plan
    from re-reading the source per action."""
    n_parts = batch.sparkSession.sparkContext.defaultParallelism
    batch = (
        batch.select("vec_id", "embedding", "label")
        .repartition(n_parts)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    batch.count()

    # Prior members of the clusters this batch touches: posting-list
    # read pruned to touched label buckets, then member rows pruned to
    # exactly those vec_ids' buckets.
    prior_index = index_store.current_for_keys(batch.select("label"))
    prior = None
    if prior_index is not None:
        prior_ids = (
            batch.select("label")
            .distinct()
            .join(prior_index, "label")
            .select(F.explode("vec_ids").alias("vec_id"))
        )
        members = member_store.current_for_keys(prior_ids)
        if members is not None:
            prior = members.join(prior_ids, "vec_id").select(
                F.col("vec_id").alias("l_id"),
                F.col("label").alias("l_label"),
                F.col("embedding").alias("l_emb"),
            )

    right = batch.select(
        F.col("vec_id").alias("r_id"),
        F.col("label").alias("r_label"),
        F.col("embedding").alias("r_emb"),
    )
    in_batch = batch.select(
        F.col("vec_id").alias("l_id"),
        F.col("label").alias("l_label"),
        F.col("embedding").alias("l_emb"),
    )
    left = (
        (in_batch if prior is None else prior.unionByName(in_batch))
        .repartition(n_parts)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    left.count()
    sims = (
        left.join(
            right,
            (F.col("l_label") == F.col("r_label"))
            & (F.col("l_id") < F.col("r_id")),
        )
        .select(
            F.col("r_id").alias("vec_id"),
            F.round(cosine(F.col("l_emb"), F.col("r_emb")), 6).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(F.max("sim").alias("sim_max"))
    )
    verdicts = (
        batch.join(sims, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.coalesce(F.col("sim_max"), F.lit(-1.0)).alias("nn_sim"),
            (F.coalesce(F.col("sim_max"), F.lit(-1.0)) >= F.lit(tau)).alias(
                "is_dup"
            ),
        )
    )
    out_store.merge(verdicts, batch_id=batch_id, insert_only=True)
    index_store.merge(
        batch.groupBy("label").agg(F.collect_list("vec_id").alias("vec_ids")),
        combine=monoid_combine(["label"], {"vec_ids": "union"}),
        batch_id=batch_id,
    )
    member_store.merge(
        batch.select("vec_id", "label", "embedding"),
        batch_id=batch_id,
        insert_only=True,
    )
    left.unpersist()
    batch.unpersist()


def run_stream_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
    tau: float = SEM_TAU,
) -> DataFrame:
    """Replay the bounded embedding stream; return the per-vector
    verdicts ``(vec_id, label, nn_sim, is_dup)`` — row-identical to the
    batch ``semantic_dedup`` query."""
    staging = stage_embeddings(
        spark, sf_dir, os.path.join(workdir, "staging_emb"), n_files
    )
    index_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "cluster_index"), key_cols=["label"]
    )
    member_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "members"), key_cols=["vec_id"]
    )
    out_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "verdicts"), key_cols=["vec_id"]
    )

    replay(
        file_stream(spark, EMBEDDINGS_STREAM_SCHEMA, staging, max_files_per_trigger),
        partial(semantic_dedup_batch, index_store, member_store, out_store, tau=tau),
        os.path.join(workdir, "ckpt_semantic_dedup"),
    )

    final = out_store.require_current()
    return final.select("vec_id", "label", "nn_sim", "is_dup")
