"""Streaming count-min sketch: additive counter-matrix keyed state.

The streaming form of ``queries/sketches.py``'s ``approx_freq_countmin``.
CMS state is a D x W matrix of event COUNTS of pure hashes, and
addition is a commutative monoid — so per-batch partial counters
(the map-side-combined groupBy the batch query proves) fold into the
stored counters with an elementwise sum, and the merged sketch is
IDENTICAL to the batch sketch for ANY batch split, replay order, or
merge order. Alongside HLL (register max) and KMV (set union) this
completes the three classic mergeable-sketch monoids.

State: one row per (d, col) counter — at most D*W = 256 tiny rows,
merged through the bucketed store's touched-bucket combine. The
readout probes the maintained sketch for the top keys (top-k + exact
counts come from the bounded staged replay — they are the report's
verification columns, not sketch state), so the batch SQL oracle
checks the incremental run verbatim.

No reference analogue (SURVEY §2.6); north-star streaming scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.sketches import _CM_D, _cm_col
from .replay import file_stream, replay
from .sketch_state import ORDERS_STREAM_SCHEMA, stage_orders
from .store import BucketedParquetUpsertStore, monoid_combine


def _batch_counters(batch: DataFrame) -> DataFrame:
    """Per-batch partial sketch: same hash, same (d, col) cells as the
    batch query — bounded at D*W rows however large the batch is."""
    return (
        batch.select(F.col("o_custkey").cast("string").alias("k"))
        .withColumn("d", F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1))))
        .select("d", _cm_col(F.col("d"), F.col("k")).alias("col"))
        .groupBy("d", "col")
        .agg(F.count("*").alias("c"))
    )


def run_stream_countmin_freq(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded order stream, maintain the counter matrix,
    then probe it for the top-10 customers — output identical to the
    batch ``approx_freq_countmin``."""
    staging = stage_orders(
        spark, sf_dir, os.path.join(workdir, "staging_orders"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "cm_counters"), key_cols=["d", "col"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            _batch_counters(batch),
            combine=monoid_combine(["d", "col"], {"c": "sum"}),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, ORDERS_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_cm"),
    )

    counters = store.require_current()
    # top keys + exact counts from the bounded staged replay (the
    # verification columns); estimates from the maintained sketch
    staged = spark.read.schema(ORDERS_STREAM_SCHEMA).parquet(staging)
    exact = (
        staged.select(F.col("o_custkey").cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("exact_cnt"))
    )
    top = exact.orderBy(F.desc("exact_cnt"), "k").limit(10)
    probe = top.withColumn(
        "d", F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1)))
    ).withColumn("col", _cm_col(F.col("d"), F.col("k")))
    est = (
        probe.join(F.broadcast(counters), ["d", "col"])
        .groupBy("k", "exact_cnt")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return est.select(
        F.col("k").cast("long").alias("o_custkey"),
        "exact_cnt",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_cnt")).alias("overestimate"),
    ).orderBy(F.desc("exact_cnt"), "o_custkey")
