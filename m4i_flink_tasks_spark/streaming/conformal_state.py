"""Streaming conformal monitoring: the split-conformal keep gate
(queries/quality_classifier.py ``conformal_keep_gate``) maintained as
additive keyed state while documents stream in.

Conformal calibration IS a streaming concept — the threshold is only
as fresh as the calibration set, so a live gate re-derives it as
labeled documents arrive. The state is the report's two SUFFICIENT
STATISTICS, both plain addition monoids and both value-domain bounded
regardless of stream length (scores are 6-dp-rounded first):

- (nc -> count) over calibration positives (<= 1e6 + 1 rows),
- (score, y -> count) over the held-out half (<= 2(1e6 + 1) rows).

Each arriving document is scored once with the shared per-document
kernel (``conformal_scored_docs`` — classifier score + Gopher label +
hash split), folded into the two count stores, and the readout is the
batch report verbatim (``conformal_report_from``), so the batch oracle
oracles the stream. Replays are batch-id fenced; addition is
order- and split-insensitive, so any batching converges to the batch
answer.

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


def run_stream_conformal_gate(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    from ..queries.quality_classifier import (
        conformal_report_from,
        conformal_scored_docs,
    )

    staging = stage_documents(
        spark, sf_dir, os.path.join(workdir, "staging_docs"), n_files
    )
    cal_store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "cal_counts"), key_cols=["nc"]
    )
    test_store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "test_counts"),
        key_cols=["score", "y"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        base = conformal_scored_docs(batch).persist()
        try:
            cal_store.merge(
                base.filter((F.col("split") == 0) & (F.col("y") == 1))
                .groupBy(F.round(1 - F.col("score"), 6).alias("nc"))
                .agg(F.count(F.lit(1)).cast("long").alias("c")),
                combine=monoid_combine(["nc"], {"c": "sum"}),
                batch_id=batch_id,
            )
            test_store.merge(
                base.filter(F.col("split") == 1)
                .groupBy("score", "y")
                .agg(F.count(F.lit(1)).cast("long").alias("c")),
                combine=monoid_combine(["score", "y"], {"c": "sum"}),
                batch_id=batch_id,
            )
        finally:
            base.unpersist()

    replay(
        file_stream(spark, DOC_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_conformal"),
    )

    cal = cal_store.require_current()
    test = test_store.require_current()
    return conformal_report_from(cal, test)
