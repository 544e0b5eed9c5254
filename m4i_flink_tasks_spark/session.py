"""SparkSession factory tuned for the local[32] test rig while keeping
settings that translate to a real multi-executor cluster.

Scale posture (100 TB): everything here is either cluster-neutral (AQE,
Arrow, UTC) or an explicit local override (driver memory, shuffle
partitions sized to local cores). On a 1000-executor cluster the same
plans run unchanged — AQE re-sizes shuffle partitions at runtime and
handles skew joins, so the hard-coded ``shuffle.partitions`` is only a
starting hint.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_WORKER_IMPORT_READY: set[str] = set()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make this package importable inside Spark's Python workers.

    Python UDF closures reference this package by module name; workers
    spawn with their own sys.path and do NOT inherit the driver's
    ``sys.path`` edits, so a driver running from an arbitrary cwd (the
    verify harness does) would hit ModuleNotFoundError inside the UDF.
    ``addPyFile`` of a package zip fixes it for every deployment mode.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _WORKER_IMPORT_READY:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), "m4i_flink_tasks_spark_pkg.zip"
    )
    tmp_path = f"{zip_path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp_path, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    zf.write(full, os.path.relpath(full, parent))
    os.replace(tmp_path, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _WORKER_IMPORT_READY.add(app_id)


def cluster_conf(executors: int = 1000, executor_cores: int = 4) -> dict[str, str]:
    """The spark-submit conf this engine expects on a REAL cluster at
    the 100 TB design point — the production twin of ``get_spark``'s
    local tuning. Returned as a plain dict so deployments can splat it
    into spark-submit ``--conf`` flags or a session builder; every
    entry is cluster-neutral Spark, no vendor extensions.

    Sizing rationale (1000 executors x 4 cores default):
    - shuffle.partitions = 3x total cores: headroom for AQE to coalesce
      DOWN (cheap) instead of splitting up (impossible); with ~128 MB
      target partitions this covers shuffles up to ~1.5 TB per stage,
      and AQE's advisoryPartitionSizeInBytes re-sizes the rest.
    - files.maxPartitionBytes stays at 128 MB so a 100 TB scan plans
      ~800k splits — bounded driver memory, full parallelism.
    - Kryo + 128 MB maxResultSize: nothing in this engine collects
      data-sized results (enforced by tests), so a tight cap converts
      an accidental collect into a loud error instead of a driver OOM.
    - RocksDB state store: streaming state (dedup windows, keyed CDC
      diff, sketch states) outgrows executor heaps at 100 TB; the
      provider is proven output-identical to the default in
      tests/test_streaming_pipelines.py.
    - maxRecordsPerBatch 10k: Arrow batches for the pandas-UDF kernels
      (MinHash, media decode) sized so a 64-dim float row batch stays
      ~5 MB — big enough to amortize, small enough to never spike a
      worker.
    """
    total_cores = executors * executor_cores
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(3 * total_cores),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.driver.maxResultSize": "128m",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.dynamicAllocation.enabled": "false",
    }


def default_driver_memory(mem_total_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a local session: ``SPARK_DRIVER_MEM``
    when set, else a quarter of the host's physical memory (``MemTotal``)
    rounded up to whole GiB and clamped to [2g, 48g] — 4g on a 16 GB
    host. The local driver JVM hosts the executors too, and a heap sized
    past the host's memory gets the JVM OOM-killed mid-run instead of
    spilling."""
    override = os.environ.get("SPARK_DRIVER_MEM")
    if override:
        return override
    if mem_total_bytes is None:
        mem_total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    quarter_gib = -(-mem_total_bytes // (4 * 1024**3))
    return f"{min(48, max(2, quarter_gib))}g"


def get_spark(
    app_name: str = "m4i_flink_tasks_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # this is what keeps a static partition count from being wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Start shuffles at the local core count; AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamp semantics travel WITH the UTC pin above: the
        # testdata's isAdjustedToUTC=false micros must read as plain
        # TIMESTAMP (not NTZ) in a UTC session to match DuckDB's naive
        # rendering, and older testdata generations carry nanos columns.
        # Set once here so every session this factory builds is correct
        # from the first scan; sources.load_table re-asserts the same
        # values at call time only as a fallback for FOREIGN sessions
        # (the driver harness builds its own plain SparkSession).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
