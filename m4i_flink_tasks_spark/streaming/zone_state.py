"""Streaming zone-map / file-inventory maintenance: additive size sums
and fold-mergeable min/max price bounds as keyed state.

Companion to the batch table-maintenance layer
(``queries/warehouse.py`` ``compaction_plan`` /
``zone_map_pruning_report``): on a 100 TB lakehouse the file inventory
those queries read is not rebuilt by rescans — it is MAINTAINED as
data lands. Sum, min and max are all associative+commutative folds, so
the keyed state ((part_key, file_id) → bytes, min_price, max_price)
equals the batch inventory for ANY batch split, replay-fenced by
batch_id. The readout attaches the same band-predicate pruning verdict
the batch report evaluates, making the batch `_file_inventory`
derivation the stream's oracle.

No reference analogue (the reference maintains no aggregation state —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream, replay
from .staging import stage_ordered_topic
from .store import BucketedParquetUpsertStore, monoid_combine

FILE_STREAM_SCHEMA = "part_key string, file_id long, price double"


def stage_file_rows(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Stage lineitem rows keyed the way the batch inventory files them
    (month partition x suppkey-hash file), ``n_files`` orderkey-ordered
    parquet files (idempotent immutable-topic model)."""
    return stage_ordered_topic(
        lambda: load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.date_format("l_shipdate", "yyyy-MM").alias("part_key"),
            (F.col("l_suppkey") % 8).alias("file_id"),
            F.col("l_extendedprice").alias("price"),
        ),
        staging_dir,
        n_files,
        "l_orderkey",
    )


def inventory_readout(state: DataFrame, lo: int, hi: int) -> DataFrame:
    """The maintained inventory with the batch report's band-predicate
    pruning verdict attached — pure plan-time arithmetic over the
    dimension-sized state."""
    prunable = (F.col("max_price") < lo) | (F.col("min_price") > hi)
    return state.select(
        "part_key",
        F.col("file_id").cast("long"),
        "size_bytes",
        "min_price",
        "max_price",
        prunable.alias("prunable"),
    ).orderBy("part_key", "file_id")


def run_stream_zone_map_state(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    from ..queries.warehouse import _FILE_ROW_BYTES, _ZONE_HI, _ZONE_LO

    staging = stage_file_rows(
        spark, sf_dir, os.path.join(workdir, "staging_files"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "zone_state"),
        key_cols=["part_key", "file_id"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            batch.groupBy("part_key", "file_id").agg(
                (F.count(F.lit(1)) * _FILE_ROW_BYTES).alias("size_bytes"),
                F.min("price").alias("min_price"),
                F.max("price").alias("max_price"),
            ),
            combine=monoid_combine(
                ["part_key", "file_id"],
                {"size_bytes": "sum", "min_price": "min", "max_price": "max"},
            ),
            batch_id=batch_id,
        )

    replay(
        file_stream(spark, FILE_STREAM_SCHEMA, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_zone"),
    )

    state = store.require_current()
    return inventory_readout(state, _ZONE_LO, _ZONE_HI)
