"""CDC / change-detection operator queries — the reference's analytical
core (SURVEY §2.2-§2.3) re-expressed over the ``events`` table.

Mapping of testdata onto the reference's domain: ``user_id`` plays the
entity ``guid``, ``ts`` plays ``updateTime``, ``props`` (a JSON object)
plays the dynamic ``attributes`` payload, ``event_type`` plays the
operation type. Each query exercises one operator family:

- P2/P3/P4 + P12 + P13/P14 in one row (``row_transform_suite``): null
  filter, op-type predicate, envelope validation, doc-id synthesis and
  the didactic example row transforms (get_entity_job.py:40,117;
  publish_state_job.py:56-69,77; examples/batch_processing_example.py:19-24,
  examples/stream_processing_example.py:24-27)
- P5: flat_map/explode (determine_change_job.py:429-433)
- P9/P10/P11: json_normalize flatten, prefixed-column drop, prefix
  strip (determine_change_job.py:41-51,67-83,96-108)
- D1-D4: attribute diff old-vs-new (determine_change_job.py:110-191)
- D8: previous-version as-of lookup (determine_change_job.py:194-226)
- D9: last-writer-wins collapse (synchronize_app_search.py:335...)

All are pure column expressions — no Python UDFs — so they stay inside
whole-stage codegen and scale linearly with partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table


def asof_previous_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: for every event, the latest strictly-earlier event of the same
    key — the reference's ES top-1 query (determine_change_job.py:194-226)
    expressed as a lag window over guid-partitioned, time-ordered data.

    Scale: one shuffle on user_id; at 100 TB the state-backed streaming
    variant (streaming/determine_change.py) replaces the window with
    per-key state so no reshuffle of history is ever needed.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "event_id",
            "user_id",
            F.round("value", 6).alias("value"),
            F.round(F.lag("value").over(w), 6).alias("prev_value"),
            F.unix_millis(F.lag("ts").over(w)).alias("prev_ts_ms"),
        )
        .orderBy("event_id")
    )


ASOF_SQL = """
SELECT event_id,
       user_id,
       round(value, 6) AS value,
       round(lag(value) OVER w, 6) AS prev_value,
       epoch_ms(lag(ts) OVER w)    AS prev_ts_ms
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""


def latest_version_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8/D9: last-writer-wins — latest event per key via max_by, the
    collapse the reference does with its ``updated_docs`` dict
    (synchronize_app_search.py:335). One partial-aggregatable shuffle."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(
            F.max_by("event_id", F.struct(F.col("ts"), F.col("event_id"))).alias(
                "last_event_id"
            ),
            F.round(
                F.max_by("value", F.struct(F.col("ts"), F.col("event_id"))), 6
            ).alias("last_value"),
            F.unix_millis(F.max("ts")).alias("last_ts_ms"),
        )
        .orderBy("user_id")
    )


LATEST_SQL = """
WITH ranked AS (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn,
           max(ts) OVER (PARTITION BY user_id) AS mx
    FROM events
)
SELECT user_id,
       event_id AS last_event_id,
       round(value, 6) AS last_value,
       epoch_ms(mx) AS last_ts_ms
FROM ranked
WHERE rn = 1
ORDER BY user_id
"""


def attribute_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1-D4: key-set diff between an old and a new attribute set.

    Per user: old = distinct event types seen in the first half of its
    history, new = distinct types in the second half (split by median
    event_id). inserted = new∖old, deleted = old∖new, unchanged = ∩ —
    the clean key-set semantics SURVEY §7.4 chooses over the reference's
    `or`-bugged guards (determine_change_job.py:169-191). Arrays are
    sorted and joined so the result hashes stably.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    halves = events.withColumn(
        "half",
        F.when(
            F.row_number().over(w) * 2 <= F.count(F.lit(1)).over(
                Window.partitionBy("user_id")
            ),
            F.lit("old"),
        ).otherwise(F.lit("new")),
    )
    sets = (
        halves.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_set(F.when(F.col("half") == "old", F.col("event_type")))
            ).alias("old_set"),
            F.array_sort(
                F.collect_set(F.when(F.col("half") == "new", F.col("event_type")))
            ).alias("new_set"),
        )
    )
    return (
        sets.select(
            "user_id",
            F.array_join(
                F.array_sort(F.array_except("new_set", "old_set")), ","
            ).alias("inserted_attributes"),
            F.array_join(
                F.array_sort(F.array_except("old_set", "new_set")), ","
            ).alias("deleted_attributes"),
            F.array_join(
                F.array_sort(F.array_intersect("old_set", "new_set")), ","
            ).alias("unchanged_attributes"),
        )
        .orderBy("user_id")
    )


ATTR_DIFF_SQL = """
WITH ranked AS (
    SELECT user_id, event_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
           count(*)    OVER (PARTITION BY user_id)                    AS n
    FROM events
), sets AS (
    SELECT user_id,
           list_sort(list(DISTINCT event_type) FILTER (rn * 2 <= n))  AS old_set,
           list_sort(list(DISTINCT event_type) FILTER (rn * 2 > n))   AS new_set
    FROM ranked
    GROUP BY user_id
)
SELECT user_id,
       coalesce(array_to_string(list_sort(list_filter(new_set, x -> NOT list_contains(coalesce(old_set, []), x))), ','), '') AS inserted_attributes,
       coalesce(array_to_string(list_sort(list_filter(old_set, x -> NOT list_contains(coalesce(new_set, []), x))), ','), '') AS deleted_attributes,
       coalesce(array_to_string(list_sort(list_filter(old_set, x -> list_contains(coalesce(new_set, []), x))), ','), '')     AS unchanged_attributes
FROM sets
ORDER BY user_id
"""


def diff_event_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7+P5: build 0..2 audit events per diff and explode — the
    reference emits EntityAttributeAudit / EntityRelationshipAudit
    messages (determine_change_job.py:254-400) then flat_maps them
    (GetResult, :429-433). Here: per user, an 'AttributeAudit' row iff
    the attribute diff is non-empty and a 'ValueAudit' row iff the value
    moved between halves; users with neither emit nothing."""
    events = load_table(spark, sf_dir, "events")
    per_user = (
        events.groupBy("user_id")
        .agg(
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.min("value"), 6).alias("min_v"),
            F.round(F.max("value"), 6).alias("max_v"),
        )
    )
    msgs = per_user.select(
        "user_id",
        F.array_compact(
            F.array(
                F.when(F.col("n_types") > 1, F.lit("EntityAttributeAudit")),
                F.when(F.col("min_v") < F.col("max_v"), F.lit("EntityValueAudit")),
            )
        ).alias("messages"),
    )
    return (
        msgs.select("user_id", F.explode("messages").alias("event_kind"))
        .orderBy("user_id", "event_kind")
    )


DIFF_EVENT_SQL = """
WITH per_user AS (
    SELECT user_id,
           count(DISTINCT event_type) AS n_types,
           round(min(value), 6) AS min_v,
           round(max(value), 6) AS max_v
    FROM events
    GROUP BY user_id
), msgs AS (
    SELECT user_id,
           list_filter([
               CASE WHEN n_types > 1 THEN 'EntityAttributeAudit' END,
               CASE WHEN min_v < max_v THEN 'EntityValueAudit' END
           ], x -> x IS NOT NULL) AS messages
    FROM per_user
)
SELECT user_id, unnest(messages) AS event_kind
FROM msgs
ORDER BY user_id, event_kind
"""


def attribute_flattening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 get_flat_df / get_attributes_df (determine_change_job.py:67-83;
    pandas prototype determine_change_old.py:94-117), P10 drop_columns
    (determine_change_job.py:41-51), P11 remove_prefix_from_attributes
    (:96-108), plus the pre-diff map cleanup P7
    delete_list_values_from_dict (:53-58) and P8
    delete_null_values_from_dict (:60-65): the reference's per-record
    ``json_normalize`` flatten becomes one plan-native map pipeline —
    namespace the dynamic payload under ``attributes.``, drop
    list-valued and null-valued entries, drop a prefixed namespace
    wholesale, strip the prefix back off, and project wide.
    ``map_filter`` / ``transform_keys`` are codegen'd expressions; no
    Python runs and no per-record frame is built.

    The payload is widened deterministically so the cleanup is
    non-vacuous at any SF: ``session`` is NULL on every third event
    (P8 must drop the key), ``tags`` is a JSON list on every second
    event (P7 must drop the key) and a JSON scalar otherwise (kept).
    """
    from ..operators.diff import drop_list_values, drop_null_values

    events = load_table(spark, sf_dir, "events")
    flat = events.select(
        "event_id",
        F.map_from_arrays(
            F.array(
                F.lit("attributes.event_type"),
                F.lit("attributes.k"),
                F.lit("attributes.session"),
                F.lit("attributes.tags"),
                F.lit("relationshipAttributes.user"),
            ),
            F.array(
                F.col("event_type"),
                F.get_json_object("props", "$.k"),
                F.when(
                    F.col("event_id") % 3 == 0, F.lit(None).cast("string")
                ).otherwise(F.concat(F.lit("s"), F.col("user_id"))),
                F.when(
                    F.col("event_id") % 2 == 0,
                    F.concat(F.lit('["'), F.col("event_type"), F.lit('"]')),
                ).otherwise(F.concat(F.lit('"'), F.col("event_type"), F.lit('"'))),
                F.col("user_id").cast("string"),
            ),
        ).alias("flat"),
    )
    cleaned = flat.withColumn(
        "flat", drop_null_values(drop_list_values(F.col("flat")))
    )
    pruned = cleaned.withColumn(
        "flat",
        F.map_filter("flat", lambda k, _: ~k.startswith("relationshipAttributes")),
    )
    stripped = pruned.withColumn(
        "flat",
        F.transform_keys("flat", lambda k, _: F.regexp_replace(k, r"^attributes\.", "")),
    )
    # attr_keys serialized with array_join at the query boundary (driver
    # canonicalizer hashes scalars only).
    return stripped.select(
        "event_id",
        F.element_at("flat", F.lit("event_type")).alias("event_type"),
        F.element_at("flat", F.lit("k")).cast("int").alias("k"),
        F.element_at("flat", F.lit("session")).alias("session"),
        F.element_at("flat", F.lit("tags")).alias("tags"),
        F.array_join(F.array_sort(F.map_keys("flat")), "|").alias("attr_keys"),
    ).orderBy("event_id")


ATTRIBUTE_FLATTENING_SQL = """
SELECT event_id,
       event_type,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CASE WHEN event_id % 3 = 0 THEN NULL ELSE 's' || user_id END AS session,
       CASE WHEN event_id % 2 = 0 THEN NULL
            ELSE '"' || event_type || '"' END AS tags,
       'event_type|k'
           || CASE WHEN event_id % 3 = 0 THEN '' ELSE '|session' END
           || CASE WHEN event_id % 2 = 0 THEN '' ELSE '|tags' END AS attr_keys
FROM events
ORDER BY event_id
"""


def row_transform_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P3+P4+P12+P13+P14 in one pass — the driver's correctness window
    is finite, so the six row-level transforms share one proof row; each
    column keeps its own reference citation:

    - filter = P2 non-null + P4 envelope validation
      (publish_state_job.py:56-69) AND P3 op-type predicate
      (get_entity_job.py:40)
    - ``doc_id`` = P12 ``{guid}_{updateTime}`` synthesis
      (publish_state_job.py:77)
    - ``data``/``plus_two`` = P13/P14 didactic row transforms
      (examples/batch_processing_example.py:19-24,
      examples/stream_processing_example.py:24-27)

    Single projection over one scan; all expressions stay in codegen."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.filter(
            F.col("props").isNotNull()
            & k.isNotNull()
            & F.col("event_type").isin("signup", "purchase", "error")
        )
        .select(
            "event_id",
            k.alias("payload_k"),
            "event_type",
            F.concat_ws("_", F.col("user_id"), F.unix_millis(F.col("ts"))).alias(
                "doc_id"
            ),
            F.repeat(F.col("event_type"), 2).alias("data"),
            (F.col("event_id") + 2).alias("plus_two"),
        )
        .orderBy("event_id")
    )


ROW_TRANSFORM_SUITE_SQL = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS payload_k,
       event_type,
       user_id || '_' || epoch_ms(ts) AS doc_id,
       repeat(event_type, 2) AS data,
       event_id + 2 AS plus_two
FROM events
WHERE props IS NOT NULL
  AND json_extract(props, '$.k') IS NOT NULL
  AND event_type IN ('signup', 'purchase', 'error')
ORDER BY event_id
"""


QUERIES = {
    "row_transform_suite": row_transform_suite,
    "asof_previous_version": asof_previous_version,
    "latest_version_per_key": latest_version_per_key,
    "attribute_diff": attribute_diff,
    "diff_event_materialization": diff_event_materialization,
    "attribute_flattening": attribute_flattening,
}

ORACLES = {
    "row_transform_suite": ROW_TRANSFORM_SUITE_SQL,
    "asof_previous_version": ASOF_SQL,
    "latest_version_per_key": LATEST_SQL,
    "attribute_diff": ATTR_DIFF_SQL,
    "diff_event_materialization": DIFF_EVENT_SQL,
    "attribute_flattening": ATTRIBUTE_FLATTENING_SQL,
}


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: one dataset written under two schema
    versions (a column added mid-history) unified by ``mergeSchema`` —
    the operational reality of any long-lived 100 TB table.

    The query stages the SAME orders relation as two parquet
    generations — v1 (even orderkeys) WITHOUT ``o_orderpriority``, v2
    (odd orderkeys) with it — then reads both directories in one scan
    with ``mergeSchema=true`` (per-file footer reconciliation; absent
    columns surface as NULL, exactly how a schema registry evolves a
    topic). The report groups revenue by priority with the pre-schema
    rows bucketed under ``(pre-schema)``. The oracle reproduces the
    semantics from the base table (even keys lose their priority), so
    no staged path leaks into the SQL.

    Scale posture: staging is one pass over orders; the merged read is
    a plain multi-directory scan — schema merge is footer metadata
    work, not data work — and the report is one map-side-combinable
    aggregate.
    """
    import os
    import tempfile

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = tempfile.mkdtemp(prefix="m4i_schema_evo_")
    v1, v2 = os.path.join(root, "v1"), os.path.join(root, "v2")
    (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .drop("o_orderpriority")
        .write.mode("overwrite")
        .parquet(v1)
    )
    (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .write.mode("overwrite")
        .parquet(v2)
    )
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return (
        merged.groupBy(
            F.coalesce("o_orderpriority", F.lit("(pre-schema)")).alias(
                "priority"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("priority")
    )


SCHEMA_EVOLUTION_SQL = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(pre-schema)'
            ELSE o_orderpriority END AS priority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY priority
ORDER BY priority
"""

QUERIES["schema_evolution_read"] = schema_evolution_read
ORACLES["schema_evolution_read"] = SCHEMA_EVOLUTION_SQL


def corrupt_record_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resilient ingest: malformed JSON lines quarantined, not dropped
    and not fatal — the PERMISSIVE-mode contract every production
    pipeline runs at the edge (a poison line must neither kill the job
    like FAILFAST nor vanish like DROPMALFORMED; it must be COUNTED).

    The query stages the documents table as JSON lines, deterministically
    corrupting every ``doc_id % 7 == 3`` row (truncating the tail makes
    the object unparseable), then reads with an explicit schema plus
    ``_corrupt_record``: malformed lines surface with all data fields
    NULL and the raw line captured. The report aggregates good rows per
    language and the quarantine bucket's row count. The oracle
    reproduces the corruption RULE from the base table, so no staged
    path leaks into the SQL.

    Scale posture: one staging pass, one scan with per-line parse (the
    JSON reader is JVM-native), one map-side-combinable aggregate. The
    parsed frame is cached because Spark (correctly) refuses plans that
    filter the internal corrupt-record column of a streaming-parsed
    relation without materialization.
    """
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    staged = os.path.join(
        tempfile.mkdtemp(prefix="m4i_quarantine_"), "jsonl"
    )
    line = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    (
        docs.select(
            F.when(
                F.col("doc_id") % 7 == 3,
                F.substring(line, 1, 10),
            )
            .otherwise(line)
            .alias("value")
        )
        .write.mode("overwrite")
        .text(staged)
    )
    parsed = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(staged)
        .cache()
    )
    return (
        parsed.groupBy(
            F.when(
                F.col("_corrupt_record").isNotNull(), "(quarantined)"
            )
            .otherwise(F.col("lang"))
            .alias("lang_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce("n_chars", F.lit(0))).alias("sum_chars"),
        )
        .orderBy("lang_bucket")
    )


QUARANTINE_SQL = """
SELECT CASE WHEN doc_id % 7 = 3 THEN '(quarantined)' ELSE lang END
           AS lang_bucket,
       count(*) AS n_rows,
       sum(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE n_chars END)::BIGINT
           AS sum_chars
FROM documents
GROUP BY lang_bucket
ORDER BY lang_bucket
"""

QUERIES["corrupt_record_quarantine"] = corrupt_record_quarantine
ORACLES["corrupt_record_quarantine"] = QUARANTINE_SQL


def orc_interchange_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interchange: the same relation written as ORC
    and read back with predicate pushdown — the cross-format reality of
    a 100 TB estate where upstream teams hand over ORC while the lake
    standardizes on parquet. Spark's ORC reader gets the identical
    declarative treatment (filters and column pruning reach the ORC
    stripe reader — pinned by tests/test_formats.py), so the engine is
    format-agnostic at the plan level.

    The query stages lineitem's five needed columns as ORC once, then
    computes a month × returnflag revenue report over one ship-year
    with the filter pushed into the ORC scan. The oracle computes the
    same report from the parquet base table, so the value hash proves
    the ORC round-trip is byte-faithful for every type involved
    (bigint, timestamp, double, varchar)."""
    import os
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
    )
    root = tempfile.mkdtemp(prefix="m4i_orc_")
    path = os.path.join(root, "lineitem_orc")
    li.write.mode("overwrite").orc(path)
    orc = spark.read.orc(path)
    filtered = orc.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        filtered.groupBy(
            "l_returnflag",
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy("l_returnflag", "ship_month")
    )


ORC_INTERCHANGE_SQL = """
SELECT l_returnflag,
       strftime(l_shipdate, '%Y-%m')                      AS ship_month,
       count(*)                                           AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2)  AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag, strftime(l_shipdate, '%Y-%m')
ORDER BY l_returnflag, ship_month
"""

QUERIES["orc_interchange_read"] = orc_interchange_read
ORACLES["orc_interchange_read"] = ORC_INTERCHANGE_SQL
