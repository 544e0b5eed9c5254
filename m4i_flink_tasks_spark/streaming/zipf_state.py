"""Streaming vocabulary-statistics maintenance: exact token
frequencies as keyed additive state, with the batch Zipf readout.

Companion to ``queries/llm_text.py`` ``zipf_fit`` — the online form of
the corpus-health monitor: as document batches arrive, the state keeps
one (token → count) row per vocabulary type and the Zipf slope/R² are
read out on demand. Counts are integers, so the state is a plain
addition monoid — bit-identical for any batch split and across
restarts — and the state size is the VOCABULARY (Heaps-sublinear in
stream length), the same reason classic BPE trains off a word-freq
table. Readout = ``zipf_from_freqs``, the batch definition verbatim,
so the batch oracle oracles the stream.

No reference analogue (the reference maintains no aggregation state —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus_ingest import DOC_STREAM_SCHEMA, stage_documents
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore, monoid_combine

_DEC = "decimal(38,0)"


def _batch_token_counts(batch: DataFrame) -> DataFrame:
    return (
        batch.select(
            # outer: null rows fail != '' below; avoids the Generate
            # guard re-splitting the text per row.
            F.explode_outer(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast(_DEC).alias("freq"))
    )


def run_stream_zipf_fit(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    from ..queries.llm_text import zipf_from_freqs

    staging = stage_documents(
        spark, sf_dir, os.path.join(workdir, "staging_docs"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "zipf_state"),
        key_cols=["tok"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            _batch_token_counts(batch),
            combine=monoid_combine(["tok"], {"freq": "sum"}),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, DOC_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_zipf"),
    )

    state = store.require_current()
    return zipf_from_freqs(
        state.select("tok", F.col("freq").cast("long").alias("freq"))
    )
