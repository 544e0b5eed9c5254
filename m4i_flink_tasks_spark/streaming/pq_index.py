"""Streaming PQ code-index maintenance: the compressed ANN
representation kept current from an embedding stream.

The FAISS operational split: codebooks are TRAINED offline on a
bounded sample (``queries/llm_similarity._pq_model`` — Lloyd passes
never scan the full corpus above the training floor) and then FROZEN;
the index is all ``add``: every arriving vector is encoded map-side
against the broadcast codebook (m x k x dsub doubles — KB-sized at any
corpus scale) and its 8 codes appended insert-only under its unique
``vec_id``. Nothing is read back, nothing rewritten — O(batch) per
micro-batch, the ingest profile a billion-vector index needs.

Because the frozen codebook is byte-identical to the batch model and
each vector's assignment is independent of every other vector, the
final store EQUALS the batch ``pq_encode`` for any batch split,
restart, or replay order — so the batch encode's DuckDB oracle oracles
the stream. The codebook freeze is a bounded collect (m x k = 128
rows) rebuilt as a literal dimension frame, so training runs exactly
once per stream rather than once per micro-batch.

No reference analogue (the reference has no similarity surface —
SURVEY §2.6); north-star LLM-pipeline scope, the PQ sibling of
``streaming/ann_index.py``'s LSH index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.llm_similarity import (
    _PQ_M,
    _pq_assign,
    _pq_model,
    _pq_subvectors,
)
from ..sources import load_table
from .ann_index import EMBEDDINGS_STREAM_SCHEMA, stage_embeddings
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore


def _code_row(codes: DataFrame) -> DataFrame:
    """(vec_id, c0..c7): one index row per vector — the batch
    ``pq_encode`` output shape."""
    return codes.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("code"))).alias(f"c{s}")
            for s in range(_PQ_M)
        ]
    )


def run_stream_pq_index(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Ingest the bounded embedding stream into the PQ code index;
    return the final index in ``pq_encode``'s shape."""
    store, _codebook = run_stream_pq_index_store(
        spark, sf_dir, workdir, n_files, max_files_per_trigger
    )
    state = store.require_current()
    return state.orderBy("vec_id")


def unpivot_codes(state: DataFrame) -> DataFrame:
    """(vec_id, s, code) rows from the stored (vec_id, c0..c7) index —
    the shape the ADC readout joins against the lookup table."""
    stack = ", ".join(f"{s}, c{s}" for s in range(_PQ_M))
    return state.selectExpr(
        "vec_id", f"stack({_PQ_M}, {stack}) AS (s, code)"
    )


def run_stream_pq_index_store(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> tuple[BucketedParquetUpsertStore, DataFrame]:
    """Ingest the bounded embedding stream; return (index store, frozen
    codebook) so callers can PROBE the maintained index."""
    staging = stage_embeddings(
        spark, sf_dir, os.path.join(workdir, "staging_embeddings"), n_files
    )
    # Offline training (once per stream): same deterministic model the
    # batch path trains, then frozen as a literal dimension frame via a
    # bounded m*k-row collect.
    emb = load_table(spark, sf_dir, "embeddings")
    final, _codes = _pq_model(emb)
    # LocalRelation freeze (see operators/local_frame.py).
    from ..operators.local_frame import local_frame

    codebook = local_frame(spark, final.collect(), final.schema)

    store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "pq_codes"), key_cols=["vec_id"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        encoded = _code_row(
            _pq_assign(_pq_subvectors(batch), codebook, "code")
        )
        store.merge(encoded, insert_only=True, batch_id=batch_id)

    replay(
        file_stream(spark, EMBEDDINGS_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_pq"),
    )
    return store, codebook
