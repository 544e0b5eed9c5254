"""Incremental materialized-view maintenance: the q1 pricing summary
kept up to date by additive keyed state instead of recompute.

The warehouse pattern: a grouped aggregate view over an append-only
fact stream is maintained by merging each micro-batch's PARTIAL
aggregate into keyed state — sums and counts add, and every
non-additive output (avg) is derived from additive parts at read time.
Per batch the cost is O(batch) + the touched group buckets; recompute
cost is never paid again, and the view equals the batch aggregate over
all data seen (pinned by tests against ``q1_pricing_summary``, modulo
the documented double-rounding at the boundary).

Addition is associative/commutative, so the state is batching- and
restart-independent up to floating-point summation order — integer
parts (counts) are exact, double parts agree after the same round()
the batch query itself applies.

Scale: state is |groups| rows (q1: 6). The same shape maintains any
distributive/algebraic aggregate (sum, count, min, max, avg via
sum/count); holistic aggregates (median, distinct) swap in the
mergeable sketches from ``sketch_state.py`` — that pairing is the
point of keeping both under the same store contract.

No reference analogue (the reference has no aggregation operator —
SURVEY §2.6); north-star warehouse-capability scope.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream, replay
from .staging import space_mtimes, stage_ordered_topic
from .store import BucketedParquetUpsertStore, monoid_combine

LINEITEM_STREAM_SCHEMA = (
    "l_orderkey bigint, l_quantity double, l_extendedprice double, "
    "l_discount double, l_returnflag string, l_linestatus string, "
    "l_shipdate_ms bigint"
)

# Retract-stream variant: every record carries an op — 'insert' adds its
# measures to the view, 'retract' subtracts them (the Flink retract-stream
# contract; the reference engine's dynamic-table updates work this way).
RETRACT_STREAM_SCHEMA = LINEITEM_STREAM_SCHEMA + ", op string"

_CUTOFF_MS = 904694400000  # 1998-09-02 UTC — q1's shipdate cutoff


def _lineitem_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineitem fact in ``LINEITEM_STREAM_SCHEMA``."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
        F.unix_millis("l_shipdate").alias("l_shipdate_ms"),
    )


def stage_lineitem(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Write the lineitem fact as ``n_files`` orderkey-ranged parquet
    files (idempotent — models the append-only fact feed)."""
    return stage_ordered_topic(
        lambda: _lineitem_rows(spark, sf_dir).withColumn(
            "_ord", F.col("l_orderkey")
        ),
        staging_dir,
        n_files,
        "_ord",
    )


def batch_partial(batch: DataFrame, signed: bool = False) -> DataFrame:
    """Additive partial of the q1 aggregate for one micro-batch — the
    identical filter and measures as the batch query, with avg kept as
    (sum, count) parts. With ``signed``, each record's ``op`` column
    weights its contribution (+1 insert / -1 retract), which is ALL
    that retraction support requires for distributive aggregates: a
    retraction is a negative delta flowing through the same combine."""
    sign = (
        F.when(F.col("op") == "retract", F.lit(-1.0)).otherwise(F.lit(1.0))
        if signed
        else F.lit(1.0)
    )
    return (
        batch.filter(F.col("l_shipdate_ms") <= _CUTOFF_MS)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(sign * F.col("l_quantity")).alias("sum_qty"),
            F.sum(sign * F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(
                sign * F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            F.sum(sign * F.col("l_discount")).alias("sum_discount"),
            F.sum(sign.cast("long")).alias("count_order"),
        )
    )


# Pointwise addition per group key — the entire combine.
merge_partials = monoid_combine(
    ["l_returnflag", "l_linestatus"],
    dict.fromkeys(
        ["sum_qty", "sum_base_price", "sum_disc_price", "sum_discount", "count_order"],
        "sum",
    ),
)


def _view(store: BucketedParquetUpsertStore) -> DataFrame:
    """The maintained view in ``q1_pricing_summary``'s exact shape."""
    final = store.require_current()
    return final.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round("sum_disc_price", 2).alias("sum_disc_price"),
        F.round(F.col("sum_discount") / F.col("count_order"), 6).alias(
            "avg_disc"
        ),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


def run_incremental_pricing_summary(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded lineitem feed; return the maintained view in
    ``q1_pricing_summary``'s exact shape."""
    staging = stage_lineitem(
        spark, sf_dir, os.path.join(workdir, "staging_lineitem"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "q1_view"),
        key_cols=["l_returnflag", "l_linestatus"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch_partial(batch),
            combine=merge_partials,
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, LINEITEM_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_q1"),
    )

    return _view(store)


RETRACT_ORDERKEY_MOD = 10
RETRACT_ORDERKEY_REM = 3


def stage_retract_feed(
    spark: SparkSession, sf_dir: str, staging_dir: str
) -> str:
    """Stage a 4-file retract stream: files 1-3 insert the fact in
    orderkey ranges; file 4 retracts every row with
    ``l_orderkey % 10 == 3`` (all inserted earlier). Idempotent."""
    if os.path.exists(os.path.join(staging_dir, "_SUCCESS")):
        return staging_dir
    li = _lineitem_rows(spark, sf_dir)
    inserts = li.withColumn("op", F.lit("insert")).repartitionByRange(
        3, "l_orderkey"
    )
    inserts.write.mode("overwrite").parquet(staging_dir)
    insert_parts = set(glob.glob(os.path.join(staging_dir, "part-*.parquet")))
    retracts = li.filter(
        F.col("l_orderkey") % RETRACT_ORDERKEY_MOD == RETRACT_ORDERKEY_REM
    ).withColumn("op", F.lit("retract"))
    (
        retracts.coalesce(1)
        .write.mode("append")
        .parquet(staging_dir)
    )
    # Order files: the 3 insert ranges first, then the retract file(s).
    # The appended file is ALSO named part-00000-<uuid>, so a filename
    # sort interleaves it among the inserts by random uuid — identify
    # the retract file(s) as the set difference instead, and pin mtimes
    # so the replay source (which orders by mtime) delivers inserts
    # before retracts deterministically across restarts.
    retract_parts = (
        set(glob.glob(os.path.join(staging_dir, "part-*.parquet"))) - insert_parts
    )
    space_mtimes(sorted(insert_parts) + sorted(retract_parts))
    return staging_dir


def run_incremental_with_retractions(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Maintain the q1 view over a retract stream; the final view must
    equal the batch aggregate over the NET rows (inserted minus
    retracted)."""
    staging = stage_retract_feed(
        spark, sf_dir, os.path.join(workdir, "staging_retract")
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "q1_view_retract"),
        key_cols=["l_returnflag", "l_linestatus"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch_partial(batch, signed=True),
            combine=merge_partials,
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, RETRACT_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_q1_retract"),
    )

    return _view(store)


def run_backfill_then_stream(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_backfill_files: int = 2,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Kappa-style migration: bootstrap the view from a BATCH read of
    the historical files, then continue incrementally from the live
    tail — the deployment path for moving an existing warehouse
    aggregate onto streaming maintenance without a full replay.

    The history and the tail are separate directories (modeling "the
    lake" vs "the topic, whose retention no longer covers history");
    the batch bootstrap is one aggregate + one store merge, and the
    stream starts with NO knowledge of history beyond the state. The
    result must equal the batch aggregate over ALL data — pinned by
    test against ``q1_pricing_summary``.
    """
    staging = stage_lineitem(
        spark, sf_dir, os.path.join(workdir, "staging_lineitem"), 4
    )
    parts = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    history, tail = parts[:n_backfill_files], parts[n_backfill_files:]
    tail_dir = os.path.join(workdir, "topic_tail")
    if not os.path.exists(os.path.join(tail_dir, "_marker")):
        os.makedirs(tail_dir, exist_ok=True)
        # A hard link shares the staged file's mtime, so the tail
        # replays in topic order.
        for p in tail:
            dst = os.path.join(tail_dir, os.path.basename(p))
            if not os.path.exists(dst):
                os.link(p, dst)
        open(os.path.join(tail_dir, "_marker"), "w").close()

    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "q1_view_kappa"),
        key_cols=["l_returnflag", "l_linestatus"],
    )
    if not store.has_state():
        # Batch bootstrap: ONE aggregate over history, one merge. The
        # negative batch_id keeps the stream's ids (0, 1, ...) strictly
        # above it so replay dedup stays monotone.
        bootstrap = batch_partial(spark.read.parquet(*history))
        store.merge(bootstrap, combine=merge_partials, batch_id=-1)

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch_partial(batch),
            combine=merge_partials,
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, LINEITEM_STREAM_SCHEMA, tail_dir, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_kappa"),
    )

    return _view(store)
