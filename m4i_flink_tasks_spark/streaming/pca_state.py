"""Streaming PCA maintenance: embedding moment state as an exact
addition monoid, with the batch eigen readout.

Companion to ``queries/llm_similarity.py`` ``embedding_pca_power`` —
the online form of whitening/rotation refresh: as embedding batches
arrive, the state keeps (n, Σq, Σqqᵀ) and the top components are read
out on demand. Floating-point sums are NOT associative, so merge-order
independence (the property every restart/rescale of a stream needs)
comes from quantizing the embeddings ONCE at the source to 2^-20
fixed point: every moment is then a sum of exact integers — one
DECIMAL(38,0) addition monoid, bit-identical for ANY batch split,
exactly like the lineitem moment state (streaming/moments_state.py).
The 2^-20 quantization error is orders below the covariance noise
floor; the readout divides the scales back out and reuses the batch
``pca_readout`` (same rounded covariance → same deterministic power
iteration), so the quantized-moments DuckDB oracle replays the stream
end to end.

State is (d^2 + d + 1) rows — 4161 here — regardless of stream
length: second moments at pos [0, d^2), first moments at
[d^2, d^2+d), the row count at pos d^2+d.

No reference analogue (the reference maintains no aggregation state —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore, monoid_combine

_DEC = "decimal(38,0)"
_D = 64
_Q_SCALE = 1048576.0          # 2^20
_QQ_SCALE = 1099511627776.0   # 2^40
PCA_STREAM_SCHEMA = "vec_id long, q array<long>"


def stage_quantized_embeddings(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Stage embeddings as 2^-20 fixed-point arrays (idempotent
    immutable-topic model). Spark ROUND and DuckDB round are both
    half-away-from-zero, so the oracle replays the same integers."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> "
                f"cast(round(cast(x as double) * {_Q_SCALE}, 0) as long))"
            ).alias("q"),
        ),
        staging_dir,
        n_files,
        "vec_id",
    )


def _batch_moments(batch: DataFrame) -> DataFrame:
    """(pos, m) partial moments of one micro-batch: the d^2 products,
    the d sums, and the count. Per-Arrow-chunk integer Gram via numpy
    (Q^T Q on int64 is EXACT: |q| <= 2^21, chunk <= 2^20 rows keeps
    every entry under 2^62), then a DECIMAL(38,0) sum across chunks —
    so the monoid stays bit-exact while avoiding the d^2-per-row
    explosion (measured 36x on the batch twin's float Gram; the
    integer path is the same shape). The exchange is state-sized,
    4161 rows per chunk."""
    d = _D

    def _parts(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            if len(pdf) > 1 << 20:
                raise ValueError("Arrow chunk too large for int64 Gram")
            Q = np.vstack(pdf["q"].to_numpy()).astype(np.int64)
            g = Q.T @ Q
            s = Q.sum(axis=0)
            vals = np.concatenate(
                [g.ravel(), s, np.array([len(pdf)], dtype=np.int64)]
            )
            yield pd.DataFrame(
                {
                    "pos": np.arange(d * d + d + 1, dtype=np.int64),
                    "v": vals,
                }
            )

    return (
        batch.select("q")
        .mapInPandas(_parts, "pos long, v long")
        .groupBy("pos")
        .agg(F.sum(F.col("v").cast(_DEC)).alias("m"))
    )


def pca_from_moment_rows(
    spark: SparkSession, rows: list
) -> DataFrame:
    """Rescale the integer moment state back to the rounded covariance
    and run the shared deterministic eigen readout."""
    from ..queries.llm_similarity import pca_readout

    d = _D
    m = {int(r["pos"]): int(r["m"]) for r in rows}
    n = m[d * d + d]
    mu = [m[d * d + i] / (n * _Q_SCALE) for i in range(d)]
    G = [
        [
            round(m[i * d + j] / (n * _QQ_SCALE) - mu[i] * mu[j], 6)
            for j in range(d)
        ]
        for i in range(d)
    ]
    return pca_readout(spark, G)


def run_stream_embedding_pca(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    staging = stage_quantized_embeddings(
        spark, sf_dir, os.path.join(workdir, "staging_pca"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "pca_state"),
        key_cols=["pos"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            _batch_moments(batch),
            combine=monoid_combine(["pos"], {"m": "sum"}),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, PCA_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_pca"),
    )

    state = store.require_current()
    return pca_from_moment_rows(spark, state.collect())
