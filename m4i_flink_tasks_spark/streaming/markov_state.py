"""Streaming Markov (removal-effect) attribution maintenance.

The batch ``markov_attribution`` (queries/behavior.py) rebuilds the
journey transition matrix with a corpus-sized lag/lead window per run.
At 100 TB of clickstream nobody rebuilds — the |states|² transition
counts are MAINTAINED as events land and the absorption solve reads
the counts. Two pieces of keyed state make the maintained matrix equal
the batch one for ANY time-ordered batch split:

- **transition counts** ((s, t) → n): an addition monoid — each batch
  contributes its in-batch transitions plus the cross-batch edge from
  every user's stored last touch to their first event in the batch;
- **per-user last touch** (user → last state): the classic CDC
  previous-version state (same shape as determine_change's keyed
  state), injected as a lag seed so batch boundaries never lose edges.

The batch query's journey semantics fold into one sequential rule —
``prev NULL or 'conv' ⇒ 'start'`` — because a journey's first event
has no in-journey predecessor and a purchase always ends its journey.
The one edge the stream cannot know mid-flight is the batch t3 tail
((last state, 'null') for users whose journey is still open): it is
closed at READOUT from the last-touch store, after the replay drains.
Readout collects the states²-bounded counts and runs the exact
integer Jacobi removal-effect solve shared with the batch query
(``attribution_from_transitions``), so the batch oracle oracles the
stream.

Replay safety: the counts store commits BEFORE the last-touch store
each batch (both batch-id fenced). A replay after the counts commit
skips the additive merge (no double count) and re-applies only the
last-touch upsert, which depends on batch rows alone.

No reference analogue (the reference maintains no aggregation state —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore, monoid_combine

EVENTS_STREAM_SCHEMA = (
    "user_id bigint, event_id bigint, ts timestamp, event_type string"
)


def stage_event_topic(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Stage events as an ``n_files`` topic range-partitioned by
    (ts, event_id) — the same total order the batch journey windows
    use, so any file-boundary split is a clean time split per user.
    The order columns are data here, so copies carry the range key."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "event_type")
        .withColumn("_ts", F.col("ts"))
        .withColumn("_eid", F.col("event_id")),
        staging_dir,
        n_files,
        "_ts",
        "_eid",
    )


def run_stream_markov_attribution(
    spark: SparkSession, sf_dir: str, workdir: str, n_files: int = 4
) -> DataFrame:
    from ..queries.behavior import attribution_from_transitions

    staging = stage_event_topic(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    counts_store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "transition_counts"),
        key_cols=["s", "t"],
        n_buckets=4,
    )
    touch_store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "last_touch"),
        key_cols=["user_id"],
        n_buckets=8,
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        st = F.when(F.col("event_type") == "purchase", "conv").otherwise(
            F.col("event_type")
        )
        rows = batch.select("user_id", "event_id", "ts", st.alias("st"))
        seed = touch_store.current()
        if seed is not None:
            # last-touch rows sort before every real event (is_seed
            # DESC) so lag() hands each user's first in-batch event its
            # cross-batch predecessor.
            rows = rows.withColumn("is_seed", F.lit(0)).unionByName(
                seed.select(
                    "user_id",
                    F.lit(None).cast("bigint").alias("event_id"),
                    F.lit(None).cast("timestamp").alias("ts"),
                    F.col("last_st").alias("st"),
                    F.lit(1).alias("is_seed"),
                )
            )
        else:
            rows = rows.withColumn("is_seed", F.lit(0))
        w_u = W.partitionBy("user_id").orderBy(
            F.col("is_seed").desc(), "ts", "event_id"
        )
        seq = rows.withColumn("prev", F.lag("st").over(w_u)).filter(
            F.col("is_seed") == 0
        )
        trans = (
            seq.select(
                F.when(
                    F.col("prev").isNull() | (F.col("prev") == "conv"),
                    "start",
                )
                .otherwise(F.col("prev"))
                .alias("s"),
                F.col("st").alias("t"),
            )
            .groupBy("s", "t")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # counts BEFORE last-touch (replay-safety ordering, see module
        # docstring)
        counts_store.merge(
            trans,
            combine=monoid_combine(["s", "t"], {"n": "sum"}),
            batch_id=batch_id,
        )
        w_last = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        last = (
            seq.withColumn("rn", F.row_number().over(w_last))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("st").alias("last_st"))
        )
        touch_store.merge(last, batch_id=batch_id)

    replay(
        file_stream(spark, EVENTS_STREAM_SCHEMA, staging, 1),
        sink,
        os.path.join(workdir, "ckpt_markov"),
    )

    counts = counts_store.require_current()
    trans = {(r["s"], r["t"]): r["n"] for r in counts.collect()}
    touches = touch_store.require_current()
    tails = (
        touches.filter(F.col("last_st") != "conv")
        .groupBy("last_st")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in tails:
        key = (r["last_st"], "null")
        trans[key] = trans.get(key, 0) + r["n"]
    return attribution_from_transitions(spark, trans)
