"""Streaming sources and sinks (SURVEY §2.1 S1/S2/S9/S10/S11).

The Kafka sink (S2, FlinkKafkaProducer, get_entity_job.py:121-123,
determine_change_job.py:472-474) maps to
``df.writeStream.format("kafka").option("topic", ...)`` with
``kafka.max.request.size`` for the reference's 14999999-byte cap; here
the staged-file stream plus ``BucketedParquetUpsertStore`` plays both
broker and sink, and the debug ``data_stream.print()`` (S9, every
job, e.g. get_entity_job.py:119) is ``writeStream.format("console")`` —
both swap in without touching pipeline logic.

The reference consumes Kafka topics of JSON strings
(FlinkKafkaConsumer, get_entity_job.py:105-111). Here the pluggable
source is a file stream over parquet — the same DataFrame flows from
``spark.readStream.format("kafka")`` by swapping the reader, because all
downstream logic operates on typed columns, not on the transport.

``stage_events`` converts the driver's ``events`` table into a staged
topic (``staging.py``) of N parquet files ordered by event time, so a
test can replay it as N micro-batches (``maxFilesPerTrigger=1``) in
deterministic time order — the bounded stand-in for a time-ordered
Kafka partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .replay import file_stream
from .staging import stage_ordered_topic

# The transport schema: events.ts carried as epoch millis (bigint) so the
# staging files round-trip without nanosecond-parquet handling.
EVENT_STREAM_SCHEMA = (
    "event_id bigint, ts_ms bigint, user_id bigint, "
    "event_type string, value double, props string"
)


def event_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table in ``EVENT_STREAM_SCHEMA``, plus copies of its
    event-time order (ts_ms, event_id) as the ``EVENT_ORDER`` range key
    that ``stage_ordered_topic`` partitions on and drops."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
        "props",
        F.unix_millis("ts").alias("_ts"),
        F.col("event_id").alias("_eid"),
    )


EVENT_ORDER = ("_ts", "_eid")


def stage_events(
    spark: SparkSession, sf_dir: str, staging_dir: str, n_files: int = 4
) -> str:
    """Write the events table as ``n_files`` parquet files in event-time
    order (part-00000 < part-00001 < ...). Idempotent."""
    return stage_ordered_topic(
        lambda: event_rows(spark, sf_dir), staging_dir, n_files, *EVENT_ORDER
    )


def events_file_stream(
    spark: SparkSession, staging_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S1 stand-in: unbounded read of the staged event files."""
    return file_stream(spark, EVENT_STREAM_SCHEMA, staging_dir, max_files_per_trigger)


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Decode a Kafka-shaped frame (binary ``value`` column) into the
    event transport schema — the S1 parse path shared by the real
    connector and tests. One ``from_json`` per record replaces the
    reference's per-record ``json.loads`` + dataclass hydration
    (FlinkKafkaConsumer + SimpleStringSchema, get_entity_job.py:105-111).
    Malformed payloads parse to NULL structs and are filtered here —
    the upstream dead-letter split (S3) sees them as poison instead of
    killing the job."""
    return (
        raw.select(
            F.from_json(F.col("value").cast("string"), EVENT_STREAM_SCHEMA).alias(
                "e"
            )
        )
        # PERMISSIVE from_json renders garbage as an all-NULL struct, so
        # gate on the required key field rather than the struct itself.
        .filter(F.col("e").isNotNull() & F.col("e.event_id").isNotNull())
        .select("e.*")
    )


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1: the REAL Kafka source behind the same transport contract as
    ``events_file_stream`` — swapping one reader, as documented. Needs
    the ``spark-sql-kafka`` connector on the classpath (absent in this
    container; ``tests/test_kafka_swap_in.py`` gates on that)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_events(raw)


def kafka_events_writer(df: DataFrame, bootstrap_servers: str, topic: str):
    """S2: the Kafka sink — key by event id (per-key topic ordering,
    the property the stateful pipelines assume), JSON-encode the row,
    and carry the reference producer's 14999999-byte request cap
    (FlinkKafkaProducer ``max.request.size``, get_entity_job.py:121-123,
    determine_change_job.py:472-474). Returns the writer so callers
    attach their own checkpoint location."""
    payload = df.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("kafka.max.request.size", "14999999")
    )
