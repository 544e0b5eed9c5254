"""Streaming IVF-PQ index: the cell-partitioned compressed ANN index
maintained from an embedding stream and probed CELL-PRUNED — the
serving shape where "probe touches nprobe/k of the corpus" is literal
in storage reads, not just in plan filters.

Operational split (FAISS discipline, as in streaming/pq_index.py):
coarse centroids and the residual PQ codebook are trained OFFLINE once
(same deterministic artifacts as the batch ``ivfpq_adc_topk``), frozen
as literal dimension frames via bounded collects (|cells| and m x k
rows). Each arriving vector is assigned to its cell, residual-encoded
map-side against the broadcast codebook, and merged into a store
BUCKETED BY CELL — so a probe reads ONLY the probed cells' buckets
(``current_for_keys``), never the index (an index under
``store._LOCAL_SNAPSHOT_MAX_BYTES`` is read whole, once per committed
version, from driver memory instead). The merge combine unions and
dedups by (label, vec_id), the ``ann_index`` idempotency pattern,
because a cell key holds many vectors.

The frozen artifacts equal the batch model and each vector's cell and
codes are independent of every other vector, so the probe result
EQUALS the batch ``ivfpq_adc_topk`` for any batch split — the batch
oracle oracles the stream.

No reference analogue (SURVEY §2.6); north-star LLM-pipeline scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.llm_similarity import (
    _PQ_M,
    _QUERY_VEC_ID,
    _TOPK,
    _coarse_centroids,
    _pq_assign,
    _pq_model,
    _pq_sqdist,
    _pq_subvectors,
    _residual,
)
from ..sources import load_table
from .ann_index import EMBEDDINGS_STREAM_SCHEMA, stage_embeddings
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore

IVFPQ_NPROBE = 2


def _dedup_cell_rows(cur: DataFrame, batch: DataFrame) -> DataFrame:
    """A cell key holds many (vector, subspace) rows: union old and
    new, dedup by the full (label, vec_id, s) identity so re-delivered
    batches stay idempotent (the ann_index combine pattern)."""
    return cur.unionByName(batch).dropDuplicates(["label", "vec_id", "s"])


def _encode_batch(batch: DataFrame, coarse: DataFrame, final: DataFrame) -> DataFrame:
    """(label, vec_id, s, code) rows for one micro-batch: residual
    against the vector's cell centroid, then codebook assignment —
    all map-side against broadcast artifacts."""
    resid = batch.join(F.broadcast(coarse), "label").select(
        "label",
        "vec_id",
        _residual(F.col("embedding"), F.col("ccent")).alias("embedding"),
    )
    codes = _pq_assign(
        _pq_subvectors(resid), final, "code"
    ).select("vec_id", "s", "code")
    return codes.join(
        batch.select("vec_id", "label"), "vec_id"
    ).select("label", "vec_id", "s", "code")


def run_stream_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> tuple[BucketedParquetUpsertStore, DataFrame, DataFrame]:
    """Ingest the bounded embedding stream; return (cell-bucketed code
    store, frozen coarse centroids, frozen residual codebook)."""
    staging = stage_embeddings(
        spark, sf_dir, os.path.join(workdir, "staging_embeddings"), n_files
    )
    # Offline training — identical artifacts to the batch ivfpq path:
    # coarse cells from the full corpus, codebook from its residuals.
    emb = load_table(spark, sf_dir, "embeddings")
    coarse_df = _coarse_centroids(emb)
    resid = emb.join(F.broadcast(coarse_df), "label").select(
        "vec_id",
        _residual(F.col("embedding"), F.col("ccent")).alias("embedding"),
    )
    final_df, _ = _pq_model(resid, n_vecs=emb.count())
    # LocalRelation freeze (see operators/local_frame.py): avoids
    # 32 near-empty tasks per serving stage that scans the codebook.
    from ..operators.local_frame import local_frame

    coarse = local_frame(spark, coarse_df.collect(), coarse_df.schema)
    final = local_frame(spark, final_df.collect(), final_df.schema)

    store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "ivfpq_codes"), key_cols=["label"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            _encode_batch(batch, coarse, final),
            combine=_dedup_cell_rows,
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, EMBEDDINGS_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_ivfpq"),
    )
    return store, coarse, final


def ivfpq_probe_topk(
    spark: SparkSession,
    store: BucketedParquetUpsertStore,
    coarse: DataFrame,
    final: DataFrame,
    q_emb: DataFrame,
    n_probe: int = IVFPQ_NPROBE,
    k: int = _TOPK,
    exclude_id: int = _QUERY_VEC_ID,
) -> DataFrame:
    """Cell-pruned ADC probe: nearest ``n_probe`` cells by exact L2 to
    the broadcast coarse centroids, store read restricted to those
    cells' buckets, per-cell lookup table from the query's residuals,
    fixed-order 8-entry ADC sum — the batch ``ivfpq_adc_topk`` readout
    over the maintained index."""
    qdist = F.round(
        F.aggregate(
            F.zip_with(
                F.transform(F.col("q_emb"), lambda x: x.cast("double")),
                F.col("ccent"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    probed = (
        coarse.crossJoin(F.broadcast(q_emb))
        .select("label", "ccent", "q_emb", qdist.alias("d"))
        .orderBy("d", "label")
        .limit(n_probe)
    )
    qr_subs = _pq_subvectors(
        probed.select(
            "label", _residual(F.col("q_emb"), F.col("ccent")).alias("qr")
        ),
        id_col="label",
        emb_col="qr",
    ).withColumnRenamed("sub", "qsub")
    lut = final.join(F.broadcast(qr_subs), "s").select(
        "label",
        "s",
        "code",
        F.round(_pq_sqdist(F.col("qsub"), F.col("cent")), 6).alias("ld"),
    )
    cell_codes = store.current_for_keys(probed.select("label"))
    assert cell_codes is not None
    per_s = (
        cell_codes.join(F.broadcast(lut), ["label", "s", "code"])
        .groupBy("vec_id")
        .agg(
            F.max("label").alias("label"),
            *[
                F.max(F.when(F.col("s") == s, F.col("ld"))).alias(f"l{s}")
                for s in range(_PQ_M)
            ],
        )
    )
    total = F.round(
        sum((F.col(f"l{s}") for s in range(_PQ_M)), F.lit(0.0)), 6
    )
    return (
        per_s.filter(F.col("vec_id") != exclude_id)
        .select("vec_id", "label", total.alias("approx_dist"))
        .orderBy("approx_dist", "vec_id")
        .limit(k)
    )
