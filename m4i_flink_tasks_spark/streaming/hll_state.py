"""Streaming HyperLogLog distinct-count: register-max keyed state.

The streaming form of ``queries/sketches.py``'s ``approx_distinct_hll``
and the cleanest possible mergeable-state argument: HLL state is a
vector of per-bucket MAXes of a pure hash, and max is a commutative
idempotent monoid — so per-batch partial registers fold into the stored
registers with an elementwise ``greatest`` and the result is IDENTICAL
to the batch sketch for ANY batch split, replay, or merge order. (KMV
needed a set-union argument; Misra-Gries is only approximately
mergeable; HLL registers are the textbook case.)

State: one row per (group, bucket) holding the register byte —
≤ groups × 256 tiny rows, merged through the bucketed store's
touched-bucket combine. The readout evaluates the estimator exactly
like the batch query, so the batch SQL oracle checks the incremental
run verbatim.

No reference analogue (SURVEY §2.6); north-star streaming scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..queries.sketches import _hll_estimate, _hll_registers
from .replay import file_stream, replay
from .sketch_state import ORDERS_STREAM_SCHEMA, stage_orders
from .store import BucketedParquetUpsertStore, monoid_combine


def _batch_registers(batch: DataFrame) -> DataFrame:
    keyed = batch.select(
        F.col("o_orderpriority").alias("g"),
        T.scrambled_hash(
            F.concat(F.lit("hll:"), F.col("o_custkey").cast("string"))
        ).alias("h"),
    )
    return _hll_registers(keyed, ["g"])


def run_stream_hll_distinct(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Replay the bounded order stream; return per-priority estimates
    from the maintained registers."""
    staging = stage_orders(
        spark, sf_dir, os.path.join(workdir, "staging_orders"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "hll_regs"), key_cols=["g", "bucket"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            _batch_registers(batch),
            combine=monoid_combine(["g", "bucket"], {"reg": "max"}),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, ORDERS_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_hll"),
    )

    regs = store.require_current()
    return _hll_estimate(regs, ["g"]).withColumnRenamed(
        "g", "o_orderpriority"
    ).orderBy("o_orderpriority")
