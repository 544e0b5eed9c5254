"""Streaming quantiles via a MERGEABLE bottom-k uniform sample.

The quantile member of the mergeable-summary family this repo
maintains as keyed state (KMV = distinct count, Misra–Gries =
frequency, interval lists = sessions, additive parts = sums): tag
every observation with the cross-engine scrambled hash of its unique
id and keep, per group, the k pairs with the SMALLEST tags. That set
is a uniform-without-replacement sample of everything seen — and
because "k smallest of a union" is a pure set operation, merging
per-batch partials in ANY order (including across restarts) yields the
IDENTICAL sample, so the streamed state equals the batch computation
exactly (pinned), unlike sketches with order-dependent counters.

Quantile estimates are rank-indexed values of the sorted sample
(ceil(q·n), deterministic integer indexing — no interpolation to
diverge between engines); sampling error is the classic
O(1/sqrt(k)) in rank. Swap in ``percentile_approx`` (GK) when a
deterministic replayable sample is not required — that trade is pinned
in tests/test_sketches.py.

State per group: k (tag, event_id, value) triples — the raw event id
is the exact-distinctness tiebreaker under tag collisions. The combine
is array expressions inside the bucketed store's touched-bucket
rewrite.

No reference analogue (no aggregation surface — SURVEY §2.6);
north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text as T
from .replay import replay
from .sources import events_file_stream, stage_events
from .store import BucketedParquetUpsertStore

SAMPLE_K = 256
_QS = (0.5, 0.9, 0.99)


def _tagged(batch: DataFrame) -> DataFrame:
    """(event_type, tag, eid, value): the tag is the scrambled hash of
    the unique event id — a pure function of the row, so replays and
    the batch twin tag identically. The raw ``event_id`` rides along as
    the EXACT tiebreaker: two distinct events may collide on
    (tag, rounded value) (the tag is a hash mod a ~1e9 prime), and the
    merge's ``array_distinct`` must collapse only true replays of the
    same event, never two colliding events."""
    return batch.select(
        "event_type",
        T.scrambled_hash(
            F.concat(F.lit("qs:"), F.col("event_id"))
        ).alias("tag"),
        F.col("event_id").cast("bigint").alias("eid"),
        F.round("value", 6).alias("v"),
    )


def batch_partial(batch: DataFrame, k: int = SAMPLE_K) -> DataFrame:
    """Per-group bottom-k by (tag, eid), as one sorted array row per
    group. ``eid`` is unique, so the ordering — and therefore the
    sample — is fully deterministic even under tag collisions."""
    w = Window.partitionBy("event_type").orderBy("tag", "eid")
    return (
        _tagged(batch)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("tag"), F.col("eid"), F.col("v"))
                )
            ).alias("sample")
        )
    )


def merge_samples(
    cur: DataFrame, batch: DataFrame, k: int = SAMPLE_K
) -> DataFrame:
    """k smallest (tag, eid) of the union — a set operation,
    order-free. ``array_distinct`` removes only exact struct replays
    (same event re-delivered); distinct events colliding on
    (tag, value) stay distinct because ``eid`` is in the struct."""
    empty = "cast(array() as array<struct<tag:bigint,eid:bigint,v:double>>)"
    joined = cur.select(
        "event_type", F.col("sample").alias("_old")
    ).join(
        batch.select("event_type", F.col("sample").alias("_new")),
        "event_type",
        "full_outer",
    )
    return joined.select(
        "event_type",
        F.expr(
            f"slice(array_sort(array_distinct(concat("
            f"coalesce(_old, {empty}), coalesce(_new, {empty})))), 1, {k})"
        ).alias("sample"),
    )


def quantiles_of(sampled: DataFrame) -> DataFrame:
    """Rank-indexed quantiles of each group's sample (deterministic
    integer indexing on the value-sorted sample)."""
    vals = F.expr("array_sort(transform(sample, s -> s.v))")
    out = sampled.withColumn("_vals", vals).withColumn(
        "n_sample", F.size("_vals")
    )
    cols = [
        F.element_at(
            "_vals",
            F.greatest(
                F.ceil(F.lit(q) * F.col("n_sample")).cast("int"), F.lit(1)
            ),
        ).alias(f"q{int(q * 100)}")
        for q in _QS
    ]
    return out.select("event_type", "n_sample", *cols).orderBy(
        "event_type"
    )


def run_stream_quantile_sample(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
    k: int = SAMPLE_K,
) -> DataFrame:
    """Replay the bounded event stream; return per-type sampled
    quantiles from the maintained bottom-k state."""
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "quantile_sample"),
        key_cols=["event_type"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch_partial(batch, k),
            combine=lambda cur, b: merge_samples(cur, b, k),
            batch_id=batch_id,
        )

    replay(
        events_file_stream(spark, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_qs"),
    )

    final = store.require_current()
    return quantiles_of(final)


def batch_quantile_sample(
    spark: SparkSession, sf_dir: str, k: int = SAMPLE_K
) -> DataFrame:
    """The batch twin: identical tags, identical bottom-k, identical
    rank indexing — the streamed state must equal this exactly."""
    from ..sources import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_type",
        "value",
    )
    return quantiles_of(batch_partial(events, k))
