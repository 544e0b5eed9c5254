"""Streaming t-closeness maintenance: privacy audit as a monitor, not
a batch job.

A release gate that only runs at publish time finds skew too late; a
100 TB ingest maintains the (QI class, sensitive value) cell counts as
rows land and the t-closeness verdict reads the maintained state. Cell
counts are an addition monoid, so the keyed state equals the batch
cells for ANY batch split, replay-fenced by batch id; the global
sensitive distribution and table total re-derive from the cells at
readout (sum over classes), so the audit is self-contained on its
state and the batch ``T_CLOSENESS_SQL`` oracles the stream
(``t_closeness_from_cells`` is the shared readout — exact integer
total-variation banding throughout).

No reference analogue (the reference maintains no aggregation state —
SURVEY §2.6); north-star governance scope beside zone-map, vacuum and
Zipf-vocabulary monitors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore, monoid_combine

CUSTOMER_STREAM_SCHEMA = (
    "c_nationkey bigint, bal_bucket bigint, c_mktsegment string"
)


def stage_customer_rows(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_nationkey",
            (
                F.round(F.col("c_acctbal") * 100).cast("long")
                / F.lit(100_000)
            )
            .cast("long")
            .alias("bal_bucket"),
            "c_mktsegment",
        ),
        staging_dir,
        n_files,
        "c_custkey",
    )


def run_stream_t_closeness(
    spark: SparkSession, sf_dir: str, workdir: str, n_files: int = 4
) -> DataFrame:
    from ..queries.profiling import t_closeness_from_cells

    staging = stage_customer_rows(
        spark, sf_dir, os.path.join(workdir, "staging_customers"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "cell_state"),
        key_cols=["c_nationkey", "bal_bucket", "c_mktsegment"],
        n_buckets=4,
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch.groupBy(
                "c_nationkey", "bal_bucket", "c_mktsegment"
            ).agg(F.count(F.lit(1)).alias("cnt")),
            combine=monoid_combine(
                ["c_nationkey", "bal_bucket", "c_mktsegment"], {"cnt": "sum"}
            ),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, CUSTOMER_STREAM_SCHEMA, staging, 2),
        sink,
        os.path.join(workdir, "ckpt_tclose"),
    )

    state = store.require_current()
    return t_closeness_from_cells(
        state.select("c_nationkey", "bal_bucket", "c_mktsegment", "cnt")
    )
