"""Streaming twins of the two r8 text gates: the Gopher word-level
quality rules (Rae et al. 2021, Appendix A) and C4-style intra-document
span dedup (Raffel et al. 2020) folded into the corpus-ingest stream.

Both gates are PER-DOCUMENT programs — Gopher is map-only column
expressions, span dedup shuffles only within a document — so the
streaming form is the simplest state shape in this repo: score each
arriving micro-batch with the SAME shared kernel the batch query uses
(``queries/llm_text.py`` ``gopher_report`` / ``span_dedup_report``)
and append the per-document report rows to a doc-keyed store. No
cross-batch combine exists to get wrong; what the stream proves is the
operational contract — exactly-once per document across restarts
(checkpoint + batch-id-fenced ``insert_only`` merge) and O(batch)
sink cost regardless of accumulated corpus size — which is what makes
the gates deployable on an unbounded ingest topic, not just a static
table.

The batch queries' DuckDB oracles therefore oracle the streams
verbatim: a hash match proves the replayed stream materializes exactly
the batch report over the full corpus.

Scale: state is one row per document REPORT (a dozen scalars), not per
document text; merges touch O(batch) buckets of the log-structured
store. At 100 TB the same contract is a Delta ``MERGE … WHEN NOT
MATCHED THEN INSERT`` keyed by doc id. No reference analogue (the
reference has no corpus surface); reference-parity for the streaming
machinery itself is via the S1 replay contract
(``streaming/sources.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .corpus_ingest import DOC_STREAM_SCHEMA, stage_documents
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore


def _run_doc_report_stream(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    store_name: str,
    report,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded document stream through a per-document report
    kernel; return the materialized report store."""
    staging = stage_documents(
        spark, sf_dir, os.path.join(workdir, "staging_docs"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, store_name), key_cols=["doc_id"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        # Whole documents arrive exactly once from the checkpointed
        # file stream, so the report rows are new keys by construction;
        # insert_only makes a replayed batch converge instead of
        # double-appending.
        store.merge(
            report(batch.select("doc_id", "text")),
            batch_id=batch_id,
            insert_only=True,
        )

    replay(
        file_stream(spark, DOC_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, f"ckpt_{store_name}"),
    )

    return store.require_current()


def run_stream_gopher_rules(
    spark: SparkSession, sf_dir: str, workdir: str, **kw
) -> DataFrame:
    from ..queries.llm_text import gopher_report

    return _run_doc_report_stream(
        spark, sf_dir, workdir, "gopher_reports", gopher_report, **kw
    )


def run_stream_intra_doc_dedup(
    spark: SparkSession, sf_dir: str, workdir: str, **kw
) -> DataFrame:
    from ..queries.llm_text import span_dedup_report

    return _run_doc_report_stream(
        spark, sf_dir, workdir, "span_dedup_reports", span_dedup_report, **kw
    )
