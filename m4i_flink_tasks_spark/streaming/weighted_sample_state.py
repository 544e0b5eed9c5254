"""Streaming weighted reservoir: a per-language Efraimidis–Spirakis
sample maintained as keyed state while documents stream in.

A-ES is THE weighted-reservoir algorithm precisely because its sample
is an order statistic: tag every document with priority
``u ** (1/weight)`` (``queries.llm_corpus.es_keyed`` — pure row
function, identical in batch and stream) and keep, per language, the k
LARGEST priorities. "Top-k of a union" is a set operation, so merging
per-batch partials in any order — across micro-batch boundaries and
restarts — yields the IDENTICAL sample, and the streamed state equals
the batch computation exactly (pinned). The same mergeable-summary
contract as the bottom-k quantile state (quantile_state.py), pointed
at the corpus-mixing problem: the maintained reservoir IS the
length-weighted training-mix draw, always current as documents arrive.

State per language: k (priority, doc) tuples, stored negated so the
ascending ``array_sort``/``slice`` combine runs inside the bucketed
store's touched-bucket rewrite as pure array expressions.

No reference analogue (no sampling surface — SURVEY §2.6); north-star
streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus_ingest import DOC_STREAM_SCHEMA, stage_documents
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore

SAMPLE_K = 25

_ENTRY = "array<struct<neg_key:double,doc_id:bigint,n_tokens:int>>"


def _negated(batch: DataFrame) -> DataFrame:
    """Priority negated so ascending struct order = descending priority
    with doc_id as the deterministic tie-break. (The shared-projection
    import is deferred: the queries package's oracle table imports this
    module's ``SAMPLE_K`` at init, so a module-level import back into
    ``queries`` would be circular.)"""
    from ..queries.llm_corpus import es_keyed

    return es_keyed(batch).select(
        "lang",
        (-F.col("sample_key")).alias("neg_key"),
        "doc_id",
        "n_tokens",
    )


def batch_partial(batch: DataFrame, k: int = SAMPLE_K) -> DataFrame:
    """Per-language top-k by priority, as one sorted array row per
    language."""
    w = Window.partitionBy("lang").orderBy("neg_key", "doc_id")
    return (
        _negated(batch)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("lang")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("neg_key"), F.col("doc_id"), F.col("n_tokens")
                    )
                )
            ).alias("sample")
        )
    )


def merge_samples(
    cur: DataFrame, batch: DataFrame, k: int = SAMPLE_K
) -> DataFrame:
    """k largest priorities of the union — a set operation, order-free."""
    empty = f"cast(array() as {_ENTRY})"
    joined = cur.select("lang", F.col("sample").alias("_old")).join(
        batch.select("lang", F.col("sample").alias("_new")),
        "lang",
        "full_outer",
    )
    return joined.select(
        "lang",
        F.expr(
            f"slice(array_sort(array_distinct(concat("
            f"coalesce(_old, {empty}), coalesce(_new, {empty})))), 1, {k})"
        ).alias("sample"),
    )


def sample_rows(stored: DataFrame) -> DataFrame:
    """Explode the per-language reservoirs back to sampled-document
    rows (negation undone exactly — FP sign flip is lossless)."""
    return (
        stored.select("lang", F.explode("sample").alias("s"))
        .select(
            "lang",
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.n_tokens").alias("n_tokens"),
            (-F.col("s.neg_key")).alias("sample_key"),
        )
        .orderBy("lang", F.desc("sample_key"), "doc_id")
    )


def run_stream_weighted_sample(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
    k: int = SAMPLE_K,
) -> DataFrame:
    """Replay the bounded document stream; return the maintained
    per-language weighted reservoir as document rows."""
    staging = stage_documents(
        spark, sf_dir, os.path.join(workdir, "staging_docs"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "weighted_sample"),
        key_cols=["lang"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch_partial(batch, k),
            combine=lambda cur, b: merge_samples(cur, b, k),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, DOC_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_wrs"),
    )

    final = store.require_current()
    return sample_rows(final)


def batch_weighted_sample(
    spark: SparkSession, sf_dir: str, k: int = SAMPLE_K
) -> DataFrame:
    """The batch twin: identical priorities, identical per-language
    top-k — the streamed reservoir must equal this exactly."""
    from ..sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    return sample_rows(batch_partial(docs, k))
