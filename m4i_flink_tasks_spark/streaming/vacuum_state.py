"""Streaming vacuum/retention plan over the LIVE store's version log.

Retention is planned over the store's real version log, not a
synthesized version inventory: the stream upserts real micro-batches
into a
:class:`~m4i_flink_tasks_spark.streaming.store.BucketedParquetUpsertStore`,
then the plan is read from the store's OWN committed snapshot log
(``history()``) and per-version time travel (``read_version()``), the
real ``vacuum()`` runs, and the emitted rows record which snapshots
actually survived — the store's file churn as a first-class observable.

Topic model: one micro-batch per order YEAR (epoch), replayed oldest
first (the staged-file mtime convention every stream twin uses), each
batch carrying per-customer aggregates for that year. The store merge
is the default last-writer-wins upsert — the reference's Elasticsearch
doc-id upsert contract (publish_state_job.py:77-84) — so the store as
of version v holds, for every customer seen in epochs <= v, the row
from their LATEST such epoch. That makes every emitted column a pure
SQL restatement over ``orders``:

- ``n_keys``/``total_orders``/``total_cents`` as of version v =
  per-customer latest-epoch-<=-v rows, aggregated (read back from the
  REAL store via ``read_version(v)``, never recomputed from the data);
- ``expired`` = the batch plan's retention rule
  (version <= current - _VACUUM_RETAIN);
- ``retained`` = OBSERVED post-vacuum snapshot survival, which equals
  NOT expired because ``vacuum(keep_last=_VACUUM_RETAIN)`` keeps
  exactly the last ``_VACUUM_RETAIN`` committed snapshots.

Money sums ride the exact integer-cents monoid (the HDR-sketch
convention) so no cross-engine float-addition-order drift exists.

Scale shape: the stream is O(batch) per merge (touched buckets only);
the readout is one distributed single-row aggregate per committed
version, collected — a version-count-bounded (<= epochs) driver-side
assembly, the same altitude as the compaction plan the rewrite job
consumes. Physical consistency (which version DIRECTORIES vacuum may
delete) depends on the store's xxhash64 bucket map, which no SQL
oracle can restate — it is checked in-process instead (loud failure,
never a silent hash mismatch) and pinned by tests/test_vacuum_state.py.

No reference analogue (the reference maintains no store of its own —
SURVEY §2.6); north-star table-maintenance scope.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream, replay
from .staging import space_mtimes
from .store import BucketedParquetUpsertStore

EPOCH_STREAM_SCHEMA = (
    "epoch int, o_custkey bigint, n_orders bigint, cents bigint"
)
_N_BUCKETS = 4


def stage_epoch_topic(
    spark: SparkSession, sf_dir: str, staging_dir: str
) -> str:
    """Stage orders as one parquet file PER ORDER-YEAR epoch (epoch 0 =
    earliest year), per-customer pre-aggregated, file mtimes spaced one
    second apart so ``maxFilesPerTrigger=1`` replays exactly one epoch
    per micro-batch, oldest first — micro-batch id == store version ==
    epoch."""
    if os.path.exists(os.path.join(staging_dir, "_READY")):
        return staging_dir
    orders = load_table(spark, sf_dir, "orders")
    per_epoch = (
        orders.select(
            F.year("o_orderdate").alias("year"),
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("year", "o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("c").alias("cents"),
        )
    )
    min_year = per_epoch.agg(F.min("year")).collect()[0][0]  # 1-row scalar
    staged = per_epoch.select(
        (F.col("year") - F.lit(min_year)).cast("int").alias("epoch"),
        "o_custkey",
        "n_orders",
        "cents",
    )
    epochs = sorted(
        r[0] for r in staged.select("epoch").distinct().collect()
    )  # bounded by the year span
    os.makedirs(staging_dir, exist_ok=True)
    dests = []
    for ep in epochs:
        tmp = os.path.join(staging_dir, f"_tmp{ep:03d}")
        staged.filter(F.col("epoch") == ep).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dests.append(os.path.join(staging_dir, f"ep{ep:03d}.parquet"))
        os.replace(part, dests[-1])
        shutil.rmtree(tmp)
    space_mtimes(dests)
    with open(os.path.join(staging_dir, "_READY"), "w", encoding="utf-8"):
        pass
    return staging_dir


def run_stream_vacuum_plan(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from ..queries.warehouse import _VACUUM_RETAIN

    staging = stage_epoch_topic(
        spark, sf_dir, os.path.join(workdir, "staging_epochs")
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "order_state"),
        key_cols=["o_custkey"],
        n_buckets=_N_BUCKETS,
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        rows = batch.persist()
        try:
            # One staged file per trigger => exactly one epoch per batch.
            eps = [r[0] for r in rows.select("epoch").distinct().collect()]
            if len(eps) != 1:
                raise RuntimeError(f"batch {batch_id} mixed epochs {eps}")
            # The oracle's whole premise is the IDENTITY micro-batch id
            # == store version == epoch VALUE — a gapped epoch sequence
            # (an epoch with zero orders) would silently desynchronize
            # store versions from epoch values and surface only as a
            # confusing oracle hash mismatch. Fail loudly in-process.
            if eps[0] != batch_id:
                raise RuntimeError(
                    f"batch {batch_id} carries epoch {eps[0]}: the epoch "
                    "sequence has a gap, store versions no longer equal "
                    "epoch values"
                )
            # Every batch must touch all buckets (hundreds of customer
            # keys vs 4 xxhash64 buckets) — this is what makes the
            # post-vacuum DIRECTORY layout deterministic (each retained
            # snapshot references only its own version dir). Check it
            # loudly rather than let a data change surface as a silent
            # oracle mismatch.
            touched = (
                rows.select(
                    F.pmod(
                        F.xxhash64("o_custkey"), F.lit(_N_BUCKETS)
                    ).alias("b")
                )
                .distinct()
                .count()
            )
            if touched != _N_BUCKETS:
                raise RuntimeError(
                    f"batch {batch_id} touched {touched}/{_N_BUCKETS} buckets"
                )
            store.merge(rows.drop("epoch"), batch_id=batch_id)
        finally:
            rows.unpersist()

    replay(
        file_stream(spark, EPOCH_STREAM_SCHEMA, staging, 1),
        sink,
        os.path.join(workdir, "ckpt_vacuum"),
    )

    history = store.history()
    if not history:
        raise RuntimeError(f"store {store.root} has no committed versions")
    current_version = history[-1]["version"]

    # Per-version readout via REAL time travel — one distributed
    # single-row aggregate per committed version, materialized BEFORE
    # vacuum deletes the expired version directories.
    per_version = None
    for h in history:
        dfv = store.read_version(h["version"])
        agg = dfv.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_orders").alias("total_orders"),
            F.sum("cents").alias("total_cents"),
        ).select(
            F.lit(h["version"]).cast("int").alias("version"),
            F.lit(h["batch_id"]).cast("int").alias("batch_id"),
            "n_keys",
            "total_orders",
            "total_cents",
        )
        per_version = agg if per_version is None else per_version.unionByName(agg)
    facts = {r["version"]: r.asDict() for r in per_version.collect()}

    # The real vacuum: keep the last _VACUUM_RETAIN committed snapshots.
    store.vacuum(keep_last=_VACUUM_RETAIN)
    survivors = {h["version"] for h in store.history()}
    for h in history:
        v = h["version"]
        expired = v <= current_version - _VACUUM_RETAIN
        if (v not in survivors) != expired:
            raise RuntimeError(
                f"vacuum kept the wrong snapshots: version {v}, "
                f"survivors {sorted(survivors)}"
            )
        # all-buckets-touched => retained snapshots reference only their
        # own version dirs, so vacuum must physically delete exactly the
        # expired ones (the xxhash64-dependent half, checked in-process
        # because no SQL oracle can restate the bucket map).
        if os.path.isdir(store._version_path(v)) == expired:
            raise RuntimeError(
                f"vacuum left version {v}'s directory in the wrong state "
                f"(expired={expired})"
            )

    dicts = [
        {
            **facts[h["version"]],
            "expired": h["version"] <= current_version - _VACUUM_RETAIN,
            "retained": h["version"] in survivors,
            "current_version": current_version,
        }
        for h in history
    ]
    cols = (
        "version", "batch_id", "n_keys", "total_orders", "total_cents",
        "expired", "retained", "current_version",
    )
    from ..operators.local_frame import local_frame

    return local_frame(
        spark,
        [tuple(d[c] for c in cols) for d in dicts],
        (
            "version int, batch_id int, n_keys bigint, total_orders bigint,"
            " total_cents bigint, expired boolean, retained boolean,"
            " current_version int"
        ),
    ).orderBy("version")
