"""Streaming ANN index maintenance: the LSH-bucketed similarity index
kept up to date from an embedding stream, probed by LSH bucket.

Batch ANN (operators/similarity.py) computes sign-bit buckets on the
fly; at scale the bucket assignment IS the index, so it should be
maintained once at ingest and probed by bucket forever after. Each
micro-batch assigns buckets map-side and merges (bucket, vec_id,
embedding) rows into the keyed store; a probe reads the index through
``current_for_keys`` and runs exact cosine on the query's LSH bucket
only. A small index is served whole from driver memory; above
``store._LOCAL_SNAPSHOT_MAX_BYTES`` the read touches ONLY the store
buckets holding the query's LSH bucket (the Delta file-pruning
analogue).

The probe result is pinned EQUAL to the batch ``lsh_bucketed_topk``
over the same corpus — the index is a materialization of the very
bucket function the batch path computes, so streaming ingest order,
re-batching, and restarts cannot change the answer (dedup by vec_id in
the combine keeps re-deliveries idempotent).

Scale: index state is corpus-sized by design (it is an index); the
store's hash-bucket layout bounds every merge and probe to touched
buckets. A degenerate LSH bucket (everything hashes together) is the
usual skew case — cap bucket population and re-hash with more bits,
exactly as the batch docstring prescribes.

No reference analogue (the reference has no similarity surface —
SURVEY §2.6); north-star LLM-pipeline scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import LSH_BITS, bit_sample_bucket, cosine
from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore

EMBEDDINGS_STREAM_SCHEMA = (
    "vec_id bigint, embedding array<float>, label int"
)


def stage_embeddings(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Write the embeddings table as ``n_files`` vec_id-ranged parquet
    files (idempotent — models the embedding-producer feed)."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", "label", F.col("vec_id").alias("_ord")
        ),
        staging_dir,
        n_files,
        "_ord",
    )


def _index_rows(batch: DataFrame, bits: int = LSH_BITS) -> DataFrame:
    """Map-side bucket assignment — the whole per-batch index delta."""
    return batch.select(
        bit_sample_bucket(F.col("embedding"), bits).alias("lsh_bucket"),
        "vec_id",
        "embedding",
    )


def run_stream_ann_index(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
    bits: int = LSH_BITS,
) -> BucketedParquetUpsertStore:
    """Ingest the bounded embedding stream into the bucketed LSH index;
    returns the index store for probing."""
    staging = stage_embeddings(
        spark, sf_dir, os.path.join(workdir, "staging_embeddings"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "ann_index"),
        key_cols=["lsh_bucket"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        delta = _index_rows(batch, bits)
        store.merge(
            delta,
            # A bucket key holds MANY vectors: union old and new, dedup
            # by vec_id so re-delivered batches stay idempotent.
            combine=lambda cur, b: cur.unionByName(b).dropDuplicates(
                ["lsh_bucket", "vec_id"]
            ),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, EMBEDDINGS_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_ann"),
    )
    return store


def probe_topk(
    spark: SparkSession,
    store: BucketedParquetUpsertStore,
    query_vec_id: int,
    query_embedding: list[float],
    k: int = 10,
    bits: int = LSH_BITS,
) -> DataFrame:
    """Top-k by exact cosine WITHIN the query's LSH bucket. The query
    VECTOR arrives with the request (as in any vector-search API); its
    bucket is computed with the same expression the index used, and
    cosine runs only on that bucket's vectors. The read
    (``current_for_keys``) serves a small index whole from driver
    memory and, above ``store._LOCAL_SNAPSHOT_MAX_BYTES``, touches only
    the store buckets holding that key. Same output shape (and pinned
    same answer) as the batch ``lsh_bucketed_topk``."""
    from ..operators.local_frame import local_frame

    qrow = local_frame(
        spark,
        [(query_vec_id, query_embedding)],
        "vec_id bigint, query_emb array<float>",
    ).select(
        "vec_id",
        "query_emb",
        bit_sample_bucket(F.col("query_emb"), bits).alias("lsh_bucket"),
    )
    candidates = store.current_for_keys(qrow.select("lsh_bucket"))
    assert candidates is not None
    return (
        candidates.join(
            F.broadcast(qrow.select("lsh_bucket", "query_emb")),
            "lsh_bucket",
        )
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(
                cosine(F.col("embedding"), F.col("query_emb")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(k)
    )
