"""Streaming HDR-histogram quantile sketch: bucket counts as keyed
additive state, quantile readout on demand.

Companion to ``queries/sketches.py`` ``hdr_histogram_quantiles`` — the
online form. State is one row per OCCUPIED (decade, leading-digits)
bucket: (cnt, c_min) where counts ADD and the representative member
value MINs — both commutative/associative monoids, so the streamed
state is bit-identical to the batch sketch for any batch split
(replay-fenced by batch_id), and bounded by 90 rows per decade
regardless of stream length. The readout (cumulative walk over the
bucket table, midpoint estimate) is the batch definition verbatim, so
the batch oracle oracles the stream — minus the batch query's exact
validation column, which by design cannot be produced from sketch
state.

No reference analogue (the reference maintains no aggregation state —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .median_state import PRICE_STREAM_SCHEMA, stage_price_cents
from .replay import file_stream, replay
from .store import BucketedParquetUpsertStore, monoid_combine


def _batch_sketch(batch: DataFrame) -> DataFrame:
    from ..queries.sketches import _hdr_bucket

    return (
        batch.select(_hdr_bucket("pc").alias("bucket"), F.col("pc"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("pc").alias("c_min"))
    )


def hdr_quantile_readout(sketch: DataFrame) -> DataFrame:
    """(q, est, n) for the batch query's quantile set, from sketch
    state alone: smallest bucket whose cumulative count reaches
    ceil(q*n), estimated at the bucket midpoint."""
    from ..queries.sketches import _HDR_QS, _hdr_midpoint_dollars

    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = sketch.select(
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        _hdr_midpoint_dollars("c_min").alias("est"),
    )
    n = sketch.agg(F.sum("cnt")).collect()[0][0]
    rows = []
    for q in _HDR_QS:
        k = math.ceil(q * n)
        rows.append(
            cum.filter(F.col("cum") >= k)
            .orderBy("bucket")
            .limit(1)
            .select(
                F.lit(q).alias("q"),
                F.round(F.col("est"), 4).alias("est"),
                F.lit(n).cast("long").alias("n"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("q")


def run_stream_hdr_quantiles(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    staging = stage_price_cents(
        spark, sf_dir, os.path.join(workdir, "staging_prices"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "hdr_state"),
        key_cols=["bucket"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            _batch_sketch(batch),
            combine=monoid_combine(["bucket"], {"cnt": "sum", "c_min": "min"}),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, PRICE_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_hdr"),
    )

    state = store.require_current()
    return hdr_quantile_readout(state)
