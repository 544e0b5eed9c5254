"""Parquet table loading for the driver-generated TPC-H-ish testdata.

Reference parity: the reference's sources are Kafka topics of JSON strings
(S1, get_entity_job.py:105-111) plus Elasticsearch / App Search state stores
(S4-S8). In the Spark engine batch inputs are parquet scans (full predicate
pushdown + column pruning via Catalyst), and streaming inputs come from
``streaming.sources`` (rate / file / kafka readStream behind one interface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_TIMESTAMP_CONF_READY: set[str] = set()

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_timestamp_conf(spark: SparkSession) -> None:
    """Once-per-session assertion of the parquet timestamp semantics
    foreign sessions need (sessions from ``session.get_spark`` already
    carry both in their builder config). Keyed by application id so
    repeated ``load_table`` calls are conf-read-free and the session's
    scan semantics cannot silently flip mid-run."""
    app_id = spark.sparkContext.applicationId
    if app_id in _TIMESTAMP_CONF_READY:
        return
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _TIMESTAMP_CONF_READY.add(app_id)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Plain ``spark.read.parquet`` so Catalyst
    keeps pushdown/pruning; no caching here — callers decide lifetime.

    Timestamp handling: the testdata's timestamp columns (``events.ts``,
    ``orders.o_orderdate``, ``lineitem.l_shipdate``) are parquet
    ``timestamp[us]`` with ``isAdjustedToUTC=false``, which Spark 4 reads
    as TIMESTAMP_NTZ by default — a type ``unix_millis`` and friends
    reject. Sessions built by ``session.get_spark`` already disable NTZ
    inference in the builder, next to the UTC session-timezone pin the
    correctness argument depends on; ``_ensure_timestamp_conf`` asserts
    the same values ONCE per session ONLY so FOREIGN sessions work too
    (the driver harness builds its own plain SparkSession and calls
    straight into ``queries()``) — not as a hidden per-call side effect.
    Plain TIMESTAMP keeps filter pushdown intact — a post-read ``cast``
    would sit between the scan and every timestamp predicate. The
    legacy nanos branch handles older testdata generations where
    ``events.ts`` was a nanosecond timestamp (PARQUET_TYPE_ILLEGAL
    unless read as long).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    _ensure_timestamp_conf(spark)
    if name == "events":
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df
    return spark.read.parquet(path)


def table_num_rows(sf_dir: str, name: str) -> int | None:
    """Row count from the parquet footer (no Spark job, no data read).

    Used as a sizing hint for CPU-bound stages (e.g. the MinHash
    signature kernel) that should fan out with data volume rather than
    blindly matching cluster width. Returns ``None`` when the path is
    not plain local parquet — callers must treat the hint as optional.
    """
    import os

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None
