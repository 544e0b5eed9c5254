"""Warehouse-layout queries: the bucketed SMB join, the Pareto
frontier, and the table-maintenance layer (compaction planning,
zone-map and manifest pruning), plus the SCD2 oracle the streaming
dimension build (``streaming/scd2.py``) is checked against.

Every query is expression-native (window functions + hash aggregates,
no Python in the hot path) and oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table


# Type-2 slowly changing dimension over the event stream: one row per
# status change with its validity interval. The DuckDB oracle of
# ``stream_scd2_dimension``.
SCD2_SQL = """
WITH changes AS (
    SELECT user_id, ts, event_id, event_type AS status
    FROM (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id,
       status,
       epoch_ms(ts) AS valid_from_ms,
       epoch_ms(lead(ts) OVER w2) AS valid_to_ms,
       row_number() OVER w2 AS version
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


QUERIES = {}

ORACLES = {}


_BUCKETS = 8


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free big-big join via bucketed tables (SMB join).

    The one big-big join strategy the suite had not yet demonstrated:
    both fact tables are written ``bucketBy(N, key).sortBy(key)`` into
    the session warehouse, after which the orderkey join needs NO
    exchange and NO sort on either side — each task zips bucket i of
    one table with bucket i of the other. This is how a production
    pipeline amortizes the shuffle of its hottest join across every
    downstream consumer: pay hash-partitioning once at write time,
    join co-located forever after. The ``merge`` hint pins the
    sort-merge path so the demo does not degrade to a broadcast at
    toy scale; the no-exchange/no-sort invariant is asserted in
    tests/test_plan_shape.py.

    Revenue is per-row integer cents, so the aggregate is exact in any
    order. The write targets the session warehouse (driver-local tmp),
    overwritten per call — at real scale the bucketed tables ARE the
    curated warehouse copy.
    """
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.split("/")[-1])
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("long")
        .alias("rev_cents"),
    )
    ot, lt = f"ord_bkt_{tag}", f"li_bkt_{tag}"
    # A fresh session's in-memory catalog does not know tables a prior
    # session left in the warehouse directory, and saveAsTable refuses
    # an existing orphaned location — drop both layers explicitly.
    import os
    import shutil
    from urllib.parse import urlparse

    wh_dir = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name in (ot, lt):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh_dir, name), ignore_errors=True)
    # repartition on the bucket key first: one file per bucket, so the
    # scan honors the written sort order and the SMJ needs no re-sort
    # (with multiple files per bucket Spark must re-sort each side).
    (
        orders.repartition(_BUCKETS, "o_orderkey")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(ot)
    )
    (
        lineitem.repartition(_BUCKETS, "l_orderkey")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(lt)
    )
    # Propagate the written per-bucket sort order into the scan (off by
    # default since Spark 3.0; safe here because the repartition above
    # guarantees one file per bucket, the case the conf exists for).
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    return (
        spark.table(ot)
        .hint("merge")
        .join(
            spark.table(lt),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev_cents").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


BUCKETED_JOIN_SQL = """
SELECT o.o_orderpriority,
       count(*) AS n_items,
       sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT)::BIGINT
           AS revenue_cents
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""

QUERIES["bucketed_colocated_join"] = bucketed_colocated_join
ORACLES["bucketed_colocated_join"] = BUCKETED_JOIN_SQL


def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: parts on the (cheap, small) Pareto frontier.

    A part is on the frontier iff no other part is <= on both price
    and size with one strict. Rather than the O(n^2) dominance
    self-join, the 2-D skyline reduces to: (1) per-price minimum size
    — a map-side-combinable aggregate that collapses the fact table to
    the DISTINCT-PRICE domain; (2) one window over that tiny relation
    ordered by price, keeping prices whose best size beats the running
    minimum of all strictly-cheaper prices; (3) a join back to emit the
    winning parts (ties on (price, size) are mutually non-dominating
    and all kept). Prices are integer cents so ordering and equality
    are engine-exact.

    Scale posture: one aggregate shuffle keyed by price + a window over
    the distinct-price relation (bounded domain, broadcastable) + one
    semi-join back — no pairwise comparison ever materializes.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    per_price = part.groupBy("price_cents").agg(
        F.min("p_size").alias("best_size")
    )
    w = (
        Window.orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_prices = (
        per_price.withColumn("run_min", F.min("best_size").over(w))
        .filter(
            F.col("run_min").isNull()
            | (F.col("best_size") < F.col("run_min"))
        )
        .select("price_cents", "best_size")
    )
    return (
        part.alias("p")
        .join(
            F.broadcast(frontier_prices.alias("f")),
            (F.col("p.price_cents") == F.col("f.price_cents"))
            & (F.col("p.p_size") == F.col("f.best_size")),
        )
        .select(
            "p.p_partkey",
            "p.p_brand",
            "p.p_size",
            F.round(F.col("p.price_cents") / 100.0, 2).alias("price"),
        )
        .orderBy("price", "p_partkey")
    )


PARETO_SQL = """
WITH p AS (
    SELECT p_partkey, p_brand, p_size,
           round(p_retailprice * 100)::BIGINT AS price_cents
    FROM part
),
per_price AS (
    SELECT price_cents, min(p_size) AS best_size
    FROM p GROUP BY price_cents
),
frontier AS (
    SELECT price_cents, best_size
    FROM (SELECT price_cents, best_size,
                 min(best_size) OVER (ORDER BY price_cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS run_min
          FROM per_price)
    WHERE run_min IS NULL OR best_size < run_min
)
SELECT p.p_partkey, p.p_brand, p.p_size,
       round(p.price_cents / 100.0, 2) AS price
FROM p JOIN frontier f
  ON p.price_cents = f.price_cents AND p.p_size = f.best_size
ORDER BY price, p.p_partkey
"""

QUERIES["pareto_frontier_parts"] = pareto_frontier_parts
ORACLES["pareto_frontier_parts"] = PARETO_SQL


# --------------------------------------------------------------------------
# Small-file compaction planning + zone-map pruning effectiveness —
# the table-maintenance layer a 100 TB warehouse runs nightly. The file
# inventory is synthesized deterministically from lineitem (month
# partition x suppkey-hash file, bytes proportional to row count) so
# the oracle can restate the whole plan in SQL; on a real lakehouse the
# same two queries run over the table's file-manifest listing instead.
# --------------------------------------------------------------------------


_COMPACTION_TARGET_BYTES = 32 * 1024  # target output size per compacted file
_FILE_ROW_BYTES = 96  # synthetic bytes-per-row for the inventory


def _file_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("part_key"),
        (F.col("l_suppkey") % 8).alias("file_id"),
    ).agg(
        (F.count(F.lit(1)) * _FILE_ROW_BYTES).alias("size_bytes"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: sequential bin-packing of each
    partition's files (largest first, file_id as the deterministic
    tie-break) into ~target-size output groups via a running-sum window
    — ``group = (cumulative_bytes - 1) div target``. Integer
    arithmetic throughout so the plan is engine-exact and stable at
    any scale; the window shuffles once on the partition key, which is
    exactly the parallelism of the rewrite job that consumes the plan
    (one task per date partition, no cross-partition coordination —
    this is why compaction of a 100 TB table is embarrassingly
    parallel)."""
    return compaction_plan_from_inventory(_file_inventory(spark, sf_dir))


def compaction_plan_from_inventory(files: DataFrame) -> DataFrame:
    """The bin-packing windows over any (part_key, file_id, size_bytes)
    inventory — shared by the batch query above and the streaming
    maintained-inventory twin (``stream_compaction_plan``), whose state
    equals the batch inventory by the fold monoids."""
    planned = files.select(
        "part_key",
        "file_id",
        "size_bytes",
        F.expr(
            f"CAST((sum(size_bytes) OVER (PARTITION BY part_key "
            f"ORDER BY size_bytes DESC, file_id "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) "
            f"DIV {_COMPACTION_TARGET_BYTES} AS INT)"
        ).alias("out_group"),
    )
    wg = Window.partitionBy("part_key", "out_group")
    return planned.select(
        "part_key",
        "file_id",
        "size_bytes",
        "out_group",
        F.sum("size_bytes").over(wg).alias("group_bytes"),
        F.count(F.lit(1)).over(wg).cast("int").alias("files_in_group"),
    ).orderBy("part_key", "file_id")


COMPACTION_PLAN_SQL = f"""
WITH files AS (
    SELECT strftime(l_shipdate, '%Y-%m') AS part_key,
           l_suppkey % 8 AS file_id,
           {_FILE_ROW_BYTES} * COUNT(*) AS size_bytes
    FROM lineitem
    GROUP BY 1, 2
), planned AS (
    SELECT part_key, file_id, size_bytes,
           CAST((SUM(size_bytes) OVER (PARTITION BY part_key
                 ORDER BY size_bytes DESC, file_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                // {_COMPACTION_TARGET_BYTES} AS INT) AS out_group
    FROM files
)
SELECT part_key, file_id, size_bytes, out_group,
       CAST(SUM(size_bytes) OVER (PARTITION BY part_key, out_group) AS BIGINT)
           AS group_bytes,
       CAST(COUNT(*) OVER (PARTITION BY part_key, out_group) AS INT)
           AS files_in_group
FROM planned
ORDER BY part_key, file_id
"""

QUERIES["compaction_plan"] = compaction_plan
ORACLES["compaction_plan"] = COMPACTION_PLAN_SQL


_VACUUM_RETAIN = 3  # snapshots kept per partition beyond the current one

_ZONE_LO, _ZONE_HI = 30000, 35000  # ~5%-selective price band probe


def zone_map_pruning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max) pruning effectiveness, natural vs clustered
    layout — the measurement behind every data-skipping decision: for
    a band predicate on l_extendedprice, how many files (and bytes)
    does each layout let the scanner skip? 'natural' files are the
    suppkey-hashed inventory (price ranges span the domain, so zone
    maps are wide and nothing prunes); 'clustered' re-assigns each
    partition's rows to the same number of files with NTILE ordered by
    price (tight disjoint ranges — the effect a Z-order/cluster-by
    rewrite buys). The report quantifies the gap per partition; at
    100 TB this difference decides whether a point query reads 12 GB
    or 12 TB. One shuffle per layout (hash aggregate / window on the
    partition key); the verdict is pure plan-time arithmetic."""
    lineitem = load_table(spark, sf_dir, "lineitem")

    natural = _file_inventory(spark, sf_dir).select(
        F.lit("natural").alias("layout"),
        "part_key",
        "size_bytes",
        "min_price",
        "max_price",
    )

    wn = Window.partitionBy("pk").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    clustered = (
        lineitem.select(
            F.date_format("l_shipdate", "yyyy-MM").alias("pk"),
            "l_extendedprice",
            "l_orderkey",
            "l_linenumber",
        )
        .select("pk", "l_extendedprice", F.ntile(8).over(wn).alias("file_id"))
        .groupBy("pk", "file_id")
        .agg(
            (F.count(F.lit(1)) * _FILE_ROW_BYTES).alias("size_bytes"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .select(
            F.lit("clustered").alias("layout"),
            F.col("pk").alias("part_key"),
            "size_bytes",
            "min_price",
            "max_price",
        )
    )

    both = natural.unionByName(clustered)
    prunable = (F.col("max_price") < _ZONE_LO) | (F.col("min_price") > _ZONE_HI)
    return (
        both.select(
            "layout",
            "part_key",
            "size_bytes",
            prunable.cast("int").alias("pruned"),
        )
        .groupBy("layout", "part_key")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_files"),
            F.sum("pruned").cast("int").alias("n_pruned"),
            F.sum("size_bytes").alias("bytes_total"),
            F.sum(F.col("pruned") * F.col("size_bytes")).alias("bytes_skipped"),
        )
        .withColumn(
            "skip_ratio",
            F.round(F.col("bytes_skipped") / F.col("bytes_total"), 6),
        )
        .orderBy("layout", "part_key")
    )


ZONE_MAP_SQL = f"""
WITH natural_files AS (
    SELECT 'natural' AS layout,
           strftime(l_shipdate, '%Y-%m') AS part_key,
           {_FILE_ROW_BYTES} * COUNT(*) AS size_bytes,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY 2, l_suppkey % 8
), clustered_rows AS (
    SELECT strftime(l_shipdate, '%Y-%m') AS pk,
           l_extendedprice,
           NTILE(8) OVER (PARTITION BY strftime(l_shipdate, '%Y-%m')
                          ORDER BY l_extendedprice, l_orderkey,
                                   l_linenumber) AS file_id
    FROM lineitem
), clustered_files AS (
    SELECT 'clustered' AS layout,
           pk AS part_key,
           {_FILE_ROW_BYTES} * COUNT(*) AS size_bytes,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM clustered_rows
    GROUP BY pk, file_id
), both_layouts AS (
    SELECT * FROM natural_files UNION ALL SELECT * FROM clustered_files
), flagged AS (
    SELECT layout, part_key, size_bytes,
           CASE WHEN max_price < {_ZONE_LO} OR min_price > {_ZONE_HI}
                THEN 1 ELSE 0 END AS pruned
    FROM both_layouts
)
SELECT layout, part_key,
       CAST(COUNT(*) AS INT) AS n_files,
       CAST(SUM(pruned) AS INT) AS n_pruned,
       CAST(SUM(size_bytes) AS BIGINT) AS bytes_total,
       CAST(SUM(pruned * size_bytes) AS BIGINT) AS bytes_skipped,
       ROUND(CAST(SUM(pruned * size_bytes) AS DOUBLE)
             / SUM(size_bytes), 6) AS skip_ratio
FROM flagged
GROUP BY layout, part_key
ORDER BY layout, part_key
"""

QUERIES["zone_map_pruning_report"] = zone_map_pruning_report
ORACLES["zone_map_pruning_report"] = ZONE_MAP_SQL


# --------------------------------------------------------------------------
# Manifest-level partition pruning — the lakehouse trick that replaces
# directory-name pruning: a table manifest maps files to partition
# values, the PLANNER filters the manifest (a dimension-sized
# relation), and only the matching files are ever opened. This is how
# Iceberg/Delta prune a 100 TB table to the handful of files a
# date-band query needs, independent of physical directory layout.
# --------------------------------------------------------------------------

_MANIFEST_LO, _MANIFEST_HI = "1997-01", "1997-12"


def _manifest_staging(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent month-partitioned copy of lineitem + its manifest:
    one write per source-table CONTENT, re-used across calls (the
    staged table IS the warehouse copy; the manifest is derived by
    listing it). The cache tag fingerprints the source parquet
    (path + size + mtime), so regenerating a dataset in place gets a
    fresh staging instead of silently serving stale rows; the write
    lands in a per-process temp dir and is atomically renamed into
    place, so concurrent callers cannot corrupt each other (the race
    loser discards its copy)."""
    import hashlib
    import os
    import shutil
    import tempfile

    src = os.path.join(sf_dir, "lineitem.parquet")
    st = os.stat(src)
    tag = hashlib.sha1(
        f"{src}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"m4i_manifest_{tag}")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        tmp = f"{root}.tmp.{os.getpid()}"
        li = load_table(spark, sf_dir, "lineitem")
        (
            li.select(
                F.date_format("l_shipdate", "yyyy-MM").alias("part_key"),
                F.round(F.col("l_extendedprice") * 100)
                .cast("long")
                .alias("price_cents"),
            )
            .repartition("part_key")
            .write.mode("overwrite")
            .partitionBy("part_key")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, root)
        except OSError:
            # a concurrent caller committed first; keep theirs
            shutil.rmtree(tmp, ignore_errors=True)
    return root


def manifest_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue for a one-year band, reading ONLY the files the
    manifest maps to that band: the manifest (file path -> partition
    value, a dimension-sized relation) is filtered plan-side and the
    scan is constructed from the surviving paths — so the pruning
    happens before any data file is opened, exactly the
    manifest-pruning contract of an Iceberg/Delta planner. The
    file-count proof (selected files only; see
    tests/test_warehouse_maintenance.py) is asserted via inputFiles.
    Integer cents keep the aggregate engine-exact."""
    import os

    root = _manifest_staging(spark, sf_dir)
    # the manifest: partition value -> directory (derived by listing;
    # a lakehouse reads this from its metadata layer)
    manifest = [
        (d.split("=", 1)[1], os.path.join(root, d))
        for d in sorted(os.listdir(root))
        if d.startswith("part_key=")
    ]
    selected = [
        path
        for part_key, path in manifest
        if _MANIFEST_LO <= part_key <= _MANIFEST_HI
    ]
    if not selected:
        raise ValueError(
            f"manifest band [{_MANIFEST_LO}, {_MANIFEST_HI}] matched no "
            f"partitions of {root} ({len(manifest)} listed) — the source "
            "lineitem has no shipdates in the band"
        )
    pruned = spark.read.option("basePath", root).parquet(*selected)
    return (
        pruned.groupBy("part_key")
        .agg(
            F.sum("price_cents").alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .select(F.col("part_key").cast("string"), "revenue_cents", "n_rows")
        .orderBy("part_key")
    )


MANIFEST_PRUNING_SQL = f"""
SELECT strftime(l_shipdate, '%Y-%m') AS part_key,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       COUNT(*) AS n_rows
FROM lineitem
WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '{_MANIFEST_LO}' AND '{_MANIFEST_HI}'
GROUP BY 1
ORDER BY 1
"""

QUERIES["manifest_partition_pruning"] = manifest_partition_pruning
ORACLES["manifest_partition_pruning"] = MANIFEST_PRUNING_SQL
