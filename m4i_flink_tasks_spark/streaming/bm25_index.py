"""Streaming hybrid-retrieval serving: the BM25 inverted index
maintained online, fused with the (static) embedding arm at readout —
the incremental form of ``queries/hybrid_retrieval.py``.

Index maintenance IS the streaming half of every search stack: new
documents must become retrievable without rebuilding the index. The
maintained state is exactly the index representation the shared
scorer (``hybrid_retrieval.bm25_from_index``) consumes:

- ``doclen``: one (doc_id, dl) row per document — the catalog the
  corpus statistics (n_docs, avgdl) aggregate from; insert-only,
  grows with the corpus like any index;
- ``postings``: (term, doc_id, tf) rows for the QUERY TERMS only — a
  query term's df re-derives as the length of its own posting list,
  so no full-vocabulary df state is ever materialized. (A real
  deployment indexes all terms the same insert-only way; keeping the
  serving slice makes the state term-bounded here without changing
  the maintenance contract.)

Documents arrive whole and exactly once (checkpointed file stream +
batch-id-fenced insert_only merges), so both stores are trivially
batch-split-invariant, and the readout — the shared BM25 scorer over
the state, fused by the shared RRF readout with the embedding arm
(a stream-static side, the get_entity dimension-join pattern) —
equals the batch answer verbatim: the batch oracle oracles the
stream.

No reference analogue (the reference has no text surface); north-star
streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .corpus_ingest import DOC_STREAM_SCHEMA, stage_documents
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore


def _batch_index_rows(batch: DataFrame, query_terms: tuple[str, ...]):
    """(doclen rows, query-term posting rows) for one micro-batch —
    the same tokenize + TF expressions as the batch TF pass."""
    tokens = batch.select(
        "doc_id",
        # outer: null rows fail != '' below; avoids the Generate guard
        # re-splitting the text per row.
        F.explode_outer(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    postings = tf.filter(F.col("term").isin(*query_terms))
    return doclen, postings


def run_stream_hybrid_rrf(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    from ..queries.hybrid_retrieval import (
        _BM25_QUERY,
        bm25_from_index,
        rrf_fused,
    )

    staging = stage_documents(
        spark, sf_dir, os.path.join(workdir, "staging_docs"), n_files
    )
    doclen_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "doclen"), key_cols=["doc_id"]
    )
    postings_store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "postings"),
        key_cols=["term", "doc_id"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        doclen, postings = _batch_index_rows(batch, _BM25_QUERY)
        doclen_store.merge(doclen, batch_id=batch_id, insert_only=True)
        postings_store.merge(postings, batch_id=batch_id, insert_only=True)

    replay(
        file_stream(spark, DOC_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_bm25_index"),
    )

    doclen = doclen_store.require_current()
    postings = postings_store.current()
    if postings is None:
        postings = spark.createDataFrame(
            [], "term string, doc_id bigint, tf bigint"
        )
    lex = bm25_from_index(
        postings.select("term", "doc_id", "tf"),
        doclen.select("doc_id", "dl"),
    )
    return rrf_fused(lex, load_table(spark, sf_dir, "embeddings"))
