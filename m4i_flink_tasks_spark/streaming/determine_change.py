"""Job 3 — determine_change as a stateful Structured Streaming pipeline.

Reference: ``DetermineChange(MapFunction)``
(scripts/determine_change_job.py:230-425) fetches the *previous* version
of every entity with a per-record Elasticsearch top-1 query
(``get_previous_atlas_entity``, :194-226), diffs current vs previous in
a one-row pandas frame (:323-336), and emits 0..2 audit events (:346-395)
— parallelism 1, two REST round-trips per record.

Spark-first re-expression: the previous version lives in **keyed
streaming state** (``applyInPandasWithState`` keyed by guid), so the
as-of lookup is a same-executor state read — the ES round-trip
disappears and the operator parallelizes by key partition. Per-key
event-time ordering is guaranteed by sorting each micro-batch group and
replaying the staged files in time order (the per-partition ordering a
guid-keyed Kafka topic provides; the reference instead forces global
parallelism=1).

Emitted change kinds mirror D7's dispatch:

- ``EntityCreated``   — no previous version in state (CREATE path :282-306)
- ``EntityValueAudit``— value differs from previous (UPDATE path :311-400)
- ``EntityUnchanged`` — diff is empty (the reference drops these,
  :340-342; kept here with an explicit kind so the DuckDB oracle can
  verify the full decision table, and downstream filters them like the
  reference's ``.filter``)

Scale: state is O(#live keys), shuffled once by guid per micro-batch;
there is no re-scan of history, so throughput is flat as the stream
grows — this is the plan that survives 100 TB where a lag-window over
the full history would not.

Two forms live here:

- the scalar differ (``determine_change_stream``) keeps last
  (ts, event_id, value) in ``applyInPandasWithState`` keyed state;
- the FULL-ENTITY differ (``run_determine_change_entities``) keeps the
  last complete entity version (attributes + relationship maps) in a
  bucketed keyed store and computes every diff as COLUMN EXPRESSIONS —
  the same D1-D6 MapType kernels as the batch path
  (``operators/diff.py``), applied to window-lagged version pairs
  inside ``foreachBatch``. No per-row Python touches the hot path
  (``tests/test_plan_shape.py::test_entity_differ_batch_plan_is_jvm_native``).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from ..operators import diff as diffk
from .replay import replay
from .sources import events_file_stream, stage_events
from .store import BucketedParquetUpsertStore

OUTPUT_SCHEMA = (
    "event_id bigint, user_id bigint, value double, prev_value double, "
    "prev_ts_ms bigint, change_kind string"
)
STATE_SCHEMA = "last_ts_ms bigint, last_event_id bigint, last_value double"


def _diff_slice(
    user_id: int,
    pdf: pd.DataFrame,
    last: tuple | None,
) -> tuple[pd.DataFrame, tuple]:
    """The state-API-agnostic diff kernel: one guid's micro-batch slice
    against its previous-version triple. Vectorized within the group:
    previous values come from ``shift`` over the time-sorted slice, with
    row 0 seeded from state — no per-record store round-trip (contrast
    determine_change_job.py:223). Returns (output rows, new state)."""
    pdf = pdf.sort_values(["ts_ms", "event_id"], kind="mergesort").reset_index(
        drop=True
    )
    last_ts_ms, _last_event_id, last_value = last if last else (None, None, None)

    # Change detection compares RAW doubles (bitwise-stable across
    # engines); rounding is applied only to the emitted columns.
    raw_value = pdf["value"]
    raw_prev = raw_value.shift(1)
    prev_ts = pdf["ts_ms"].shift(1)
    if last_ts_ms is not None:
        raw_prev.iloc[0] = last_value
        prev_ts.iloc[0] = last_ts_ms

    created = prev_ts.isna()
    changed = ~created & (raw_value != raw_prev)
    kind = pd.Series("EntityUnchanged", index=pdf.index, dtype="object")
    kind[changed] = "EntityValueAudit"
    kind[created] = "EntityCreated"

    out = pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": user_id,
            "value": raw_value.round(6),
            "prev_value": raw_prev.astype("float64").round(6),
            "prev_ts_ms": prev_ts.astype("Int64"),
            "change_kind": kind,
        }
    )
    tail = pdf.iloc[-1]
    new_last = (int(tail["ts_ms"]), int(tail["event_id"]), float(tail["value"]))
    return out, new_last


def _diff_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState adapter around ``_diff_slice``."""
    (user_id,) = key
    pdf = pd.concat(list(pdfs), ignore_index=True)
    out, new_last = _diff_slice(
        user_id, pdf, tuple(state.get) if state.exists else None
    )
    state.update(new_last)
    yield out


def determine_change_stream(stream: DataFrame) -> DataFrame:
    """The keyed stateful diff operator (D1-D8 over the event stream).

    Runs on ``applyInPandasWithState`` with the session's state-store
    provider: HDFS-backed state is the Spark default and what every
    other stateful operator here uses, and
    test_determine_change_under_rocksdb_state_store pins the output
    identical under RocksDBStateStoreProvider.
    """
    return (
        stream.filter(F.col("props").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _diff_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def entity_view(events: DataFrame) -> DataFrame:
    """The full-entity projection of the event stream, as NATIVE map
    columns — ``attrs: map<string,string>`` with a varying key set
    (``k`` present only for even k, so consecutive versions exercise
    insert AND delete) and ``rels: map<string,array<string>>`` guid
    lists (``flags`` present only for value >= 5). Mirrors the entity
    shapes of ``AtlasEntityChangeMessage.py:12-30``; the payload is
    parsed ONCE with an expression (``get_json_object``), never
    per-row Python."""
    k = F.get_json_object("props", "$.k").cast("long")
    attrs = F.map_filter(
        F.create_map(
            F.lit("event_type"), F.col("event_type"),
            # integer cents: float->string formatting differs across
            # engines, floor(double*100) does not
            F.lit("value_cents"),
            F.floor(F.col("value") * 100).cast("long").cast("string"),
            F.lit("k"), F.when(k % 2 == 0, k.cast("string")),
        ),
        lambda _, v: v.isNotNull(),
    )
    rels = F.map_filter(
        F.create_map(
            F.lit("channel"),
            F.array_sort(
                F.array_distinct(
                    F.array(
                        F.concat(F.lit("CH"), (k % 4).cast("string")),
                        F.concat(F.lit("CH"), (F.col("user_id") % 4).cast("string")),
                    )
                )
            ),
            F.lit("flags"),
            F.when(
                F.col("value") >= 5.0,
                F.array(F.concat(F.lit("F"), (k % 3).cast("string"))),
            ),
        ),
        lambda _, v: v.isNotNull(),
    )
    return events.filter(F.col("props").isNotNull() & k.isNotNull()).select(
        "event_id",
        "user_id",
        "ts_ms",
        attrs.alias("attrs"),
        rels.alias("rels"),
    )


def _fmt_attr_pairs(keys: F.Column, m: F.Column) -> F.Column:
    """``k=v|k2=v2`` over sorted key arrays (the kernels sort)."""
    return F.array_join(
        F.transform(keys, lambda kk: F.concat_ws("=", kk, F.element_at(m, kk))),
        "|",
    )


def _fmt_rel_map(m: F.Column) -> F.Column:
    """``key:guid1,guid2|key2:...`` — sorted keys, sorted guid lists;
    empty-list keys are already dropped by the D5/D6 kernels."""
    ks = F.array_sort(F.map_keys(m))
    return F.array_join(
        F.transform(
            ks,
            lambda kk: F.concat_ws(
                ":", kk, F.array_join(F.array_sort(F.element_at(m, kk)), ",")
            ),
        ),
        "|",
    )


def entity_diff_columns(lagged: DataFrame) -> DataFrame:
    """EntityMessage-shaped diff output from ``(attrs, rels,
    prev_attrs, prev_rels)`` columns — the SAME D1-D6 MapType kernels
    the batch path proves (``operators/diff.py``), here driving the
    streaming emission. A NULL prev side is the CREATE path
    (determine_change_job.py:282-306): every attribute inserts, every
    relationship guid adds, and the kernels produce exactly that from
    the NULL coalescing."""
    ins = diffk.inserted_keys(F.col("prev_attrs"), F.col("attrs"))
    chg = diffk.changed_keys(F.col("prev_attrs"), F.col("attrs"))
    dele = diffk.deleted_keys(F.col("prev_attrs"), F.col("attrs"))
    add_r = diffk.inserted_relationships(F.col("prev_rels"), F.col("rels"))
    del_r = diffk.deleted_relationships(F.col("prev_rels"), F.col("rels"))
    created = F.col("prev_attrs").isNull()
    any_diff = (
        (F.size(ins) > 0)
        | (F.size(chg) > 0)
        | (F.size(dele) > 0)
        | (F.size(F.map_keys(add_r)) > 0)
        | (F.size(F.map_keys(del_r)) > 0)
    )
    return lagged.select(
        "event_id",
        "user_id",
        F.when(created, F.lit("EntityCreated"))
        .when(any_diff, F.lit("EntityChanged"))
        .otherwise(F.lit("EntityUnchanged"))
        .alias("change_kind"),
        _fmt_attr_pairs(ins, F.col("attrs")).alias("inserted_attrs"),
        _fmt_attr_pairs(chg, F.col("attrs")).alias("changed_attrs"),
        F.array_join(dele, "|").alias("deleted_attrs"),
        _fmt_rel_map(add_r).alias("added_rels"),
        _fmt_rel_map(del_r).alias("deleted_rels"),
    )


def run_determine_change_entities(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Run the bounded entity-diff stream; return all emitted diffs.

    Previous versions live in a keyed store (``user_id`` -> last full
    entity version), and each micro-batch is diffed ENTIRELY in column
    expressions: seed the batch's keys from the store, window-lag per
    key over (ts_ms, event_id) to pair consecutive versions, apply the
    D1-D6 MapType kernels, append the diffs, upsert the new last
    versions. No per-row Python anywhere — the whole batch plan is
    whole-stage-codegen'd, where the reference runs one pandas frame
    per record (determine_change_job.py:323-336).

    Scale: the window shuffles one micro-batch by key (not history);
    the state upsert rewrites only touched buckets; seeds are
    semi-joined to the batch's keys so state reads are pruned to the
    live working set.
    """
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    # Diff rows are append-only (one per event_id, exactly once from
    # the checkpointed file stream) -> O(batch) segment appends, never
    # a store rewrite.
    out_store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "determined_change_entities"),
        key_cols=["event_id"],
    )
    state_store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "entity_versions"),
        key_cols=["user_id"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        ev = entity_view(batch)
        # Bucket-pruned state read: only segments whose bucket holds a
        # batch key are planned — O(touched buckets), not O(store).
        state = state_store.current_for_keys(ev.select("user_id"))
        union = ev.withColumn("is_seed", F.lit(0))
        if state is not None:
            seeds = (
                state.join(
                    F.broadcast(ev.select("user_id").distinct()),
                    "user_id",
                    "left_semi",
                )
                .select(
                    "user_id",
                    F.col("last_event_id").alias("event_id"),
                    F.col("last_ts_ms").alias("ts_ms"),
                    "attrs",
                    "rels",
                )
                .withColumn("is_seed", F.lit(1))
            )
            union = union.unionByName(seeds)
        # Seeds order strictly before batch rows (the state IS the
        # previous version no matter its timestamp), batch rows pair in
        # event-time order — the per-key ordering contract of a
        # guid-partitioned topic.
        w = Window.partitionBy("user_id").orderBy(
            F.desc("is_seed"), "ts_ms", "event_id"
        )
        lagged = union.select(
            "*",
            F.lag("attrs").over(w).alias("prev_attrs"),
            F.lag("rels").over(w).alias("prev_rels"),
        ).filter(F.col("is_seed") == 0)
        out_store.merge(
            entity_diff_columns(lagged), batch_id=batch_id, insert_only=True
        )
        new_state = (
            ev.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("ts_ms").alias("last_ts_ms"),
                        F.col("event_id").alias("last_event_id"),
                        "attrs",
                        "rels",
                    ),
                    F.struct("ts_ms", "event_id"),
                ).alias("s")
            )
            .select("user_id", "s.*")
        )
        state_store.merge(new_state, batch_id=batch_id)

    replay(
        events_file_stream(spark, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_determine_change_entities"),
    )

    final = out_store.current()
    if final is None:
        raise RuntimeError("determine_change: store empty after the run")
    return final


def run_determine_change(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Run the bounded stream to completion; return all emitted diffs."""
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    # Append-only by event_id, same contract as the entity-diff sink.
    store = BucketedParquetUpsertStore(
        spark, os.path.join(workdir, "determined_change"), key_cols=["event_id"]
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(batch, batch_id=batch_id, insert_only=True)

    replay(
        determine_change_stream(
            events_file_stream(spark, staging, max_files_per_trigger)
        ),
        sink,
        os.path.join(workdir, "ckpt_determine_change"),
    )

    final = store.current()
    if final is None:
        raise RuntimeError("determine_change: store empty after the run")
    return final
