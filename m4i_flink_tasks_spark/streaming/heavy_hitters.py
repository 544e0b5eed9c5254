"""Streaming heavy hitters: a Misra–Gries summary per language,
maintained as keyed map state across micro-batches.

Companion to ``sketch_state.py``'s KMV sketch — the frequency-moment
member of the mergeable-summary family (Agarwal et al., "Mergeable
Summaries", PODS 2012): per micro-batch the job computes EXACT term
counts (a distributed groupBy — bounded by the batch's vocabulary),
then folds them into the stored summary and prunes back to ``m``
counters by subtracting the (m+1)-th largest counter value from all
and dropping the non-positives. The invariants that survive ANY merge
order:

- every term with true count > N/(m+1) is present in the summary;
- a stored counter underestimates its true count by at most N/(m+1);
- the state per language never exceeds ``m`` (term, counter) entries.

Unlike KMV (a set union — bit-identical under any batching), the MG
counter VALUES depend on the merge sequence, so tests pin the
guarantees plus replay idempotence, not cross-batching equality.

Scale: state is languages × m entries; the merge touches only the
buckets holding the batch's languages. The combine is pure MapType /
array expressions (map_zip_with union-sum, comparator array_sort,
threshold subtract) — no Python on the data path. The production
swap-in is the identical expressions inside a Delta MERGE.

No reference analogue (the reference has no aggregation state at all —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus_ingest import DOC_STREAM_SCHEMA, stage_documents
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore

MG_M = 8

# Sort map entries by (count desc, term asc): deterministic heavy-first
# order for the threshold pick regardless of map iteration order.
_ENTRY_CMP = (
    "(a, b) -> CASE WHEN a.value > b.value THEN -1 "
    "WHEN a.value < b.value THEN 1 "
    "WHEN a.key < b.key THEN -1 "
    "WHEN a.key > b.key THEN 1 ELSE 0 END"
)

_EMPTY_MAP = "map() :: map<string,bigint>"


def batch_partial(batch: DataFrame) -> DataFrame:
    """Exact per-language term counts for one micro-batch, rolled into
    one (lang, counters map, n_total) row per language."""
    tokens = batch.select(
        "lang",
        # outer: null rows fail != '' below; avoids the Generate guard
        # re-splitting the text per row.
        F.explode_outer(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    counted = tokens.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counted.groupBy("lang").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct(F.col("term"), F.col("cnt")))
            )
        ).alias("counters"),
        F.sum("cnt").alias("n_total"),
    )


def _prune_to_m(m: int):
    """MG prune of the ``_summed`` map column: subtract the (m+1)-th
    largest counter from all, drop non-positives — at most m entries
    survive. Pure expressions."""
    entries = F.expr(
        f"array_sort(map_entries(_summed), {_ENTRY_CMP})"
    )
    threshold = F.when(
        F.size(entries) > m,
        F.element_at(entries, m + 1)["value"],
    ).otherwise(F.lit(0).cast("bigint"))
    kept = F.filter(
        F.transform(
            entries,
            lambda e: F.struct(
                e["key"].alias("key"),
                (e["value"] - threshold).alias("value"),
            ),
        ),
        lambda e: e["value"] > 0,
    )
    return F.map_from_entries(kept)


def merge_summaries(
    cur: DataFrame, batch: DataFrame, m: int = MG_M
) -> DataFrame:
    """Union-sum the two counter maps per language, then prune to m."""
    merged = cur.select(
        "lang",
        F.col("counters").alias("_old"),
        F.col("n_total").alias("_old_n"),
    ).join(
        batch.select(
            "lang",
            F.col("counters").alias("_new"),
            F.col("n_total").alias("_new_n"),
        ),
        "lang",
        "full_outer",
    )
    summed = merged.withColumn(
        "_summed",
        F.expr(
            f"map_zip_with(coalesce(_old, {_EMPTY_MAP}), "
            f"coalesce(_new, {_EMPTY_MAP}), "
            "(k, v1, v2) -> coalesce(v1, 0L) + coalesce(v2, 0L))"
        ),
    )
    return summed.select(
        "lang",
        _prune_to_m(m).alias("counters"),
        (
            F.coalesce(F.col("_old_n"), F.lit(0))
            + F.coalesce(F.col("_new_n"), F.lit(0))
        ).alias("n_total"),
    )


def run_stream_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
    m: int = MG_M,
) -> DataFrame:
    """Replay the bounded document stream; return the per-language MG
    summary exploded to (lang, term, est_count, n_total, max_undercount)
    rows, heavy-first."""
    staging = stage_documents(
        spark, sf_dir, os.path.join(workdir, "staging_docs"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "mg_state"),
        key_cols=["lang"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch_partial(batch),
            combine=lambda cur, b: merge_summaries(cur, b, m),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, DOC_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_mg"),
    )

    final = store.require_current()
    return (
        final.select(
            "lang",
            "n_total",
            F.explode("counters").alias("term", "est_count"),
        )
        .withColumn(
            "max_undercount", F.expr(f"n_total div {m + 1}")
        )
        .select("lang", "term", "est_count", "n_total", "max_undercount")
        .orderBy("lang", F.desc("est_count"), "term")
    )
