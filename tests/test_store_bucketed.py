"""BucketedParquetUpsertStore — the bounded-merge contract, enforced.

The base store is O(store) per merge; the bucketed store must (a) give
byte-identical ANSWERS to the base store for any merge/delete sequence,
and (b) leave untouched buckets' files on disk untouched — merge cost
bounded by touched buckets, not store size (the posture Delta/Iceberg
MERGE file pruning gives at 100 TB).
"""

from __future__ import annotations

import glob
import json
import os
import tempfile
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from m4i_flink_tasks_spark.streaming import store as store_mod
from m4i_flink_tasks_spark.streaming.store import (
    BucketedParquetUpsertStore,
    ParquetUpsertStore,
    merge_many,
    monoid_combine,
)


def _rows(store):
    return sorted(map(tuple, store.current().collect()))


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_bucketed_matches_flat_store_semantics(spark):
    root_b = tempfile.mkdtemp(prefix="m4i_bstore_")
    root_f = tempfile.mkdtemp(prefix="m4i_fstore_")
    b = BucketedParquetUpsertStore(spark, root_b, ["k"], n_buckets=4)
    f = ParquetUpsertStore(spark, root_f, ["k"])

    seed = _mk(spark, [(i, f"v{i}") for i in range(20)])
    upd = _mk(spark, [(3, "x3"), (7, "x7"), (40, "new")])
    dels = spark.createDataFrame([(5,), (40,)], "k long")
    for store in (b, f):
        store.merge(seed)
        store.merge(upd)
        store.delete(dels)
    assert _rows(b) == _rows(f)


def test_require_current_raises_on_an_empty_store(spark):
    """A sink that reads back what it wrote fails loudly, naming the
    store, when nothing was committed; ``current()`` itself stays None."""
    root = tempfile.mkdtemp(prefix="m4i_bstore_empty_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=4)
    assert store.current() is None
    with pytest.raises(RuntimeError, match=root):
        store.require_current()
    store.merge(_mk(spark, [(1, "a")]))
    assert sorted(map(tuple, store.require_current().collect())) == [(1, "a")]


def test_merge_rewrites_only_touched_buckets(spark):
    root = tempfile.mkdtemp(prefix="m4i_bstore_touch_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=8)
    store.merge(_mk(spark, [(i, f"v{i}") for i in range(64)]))
    state0 = store._state()
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(root, "v*", "_bucket=*", "*.parquet"))
    }

    # One key -> one touched bucket.
    store.merge(_mk(spark, [(3, "updated")]))
    state1 = store._state()
    moved = [
        bkt
        for bkt in state0["buckets"]
        if state1["buckets"].get(bkt) != state0["buckets"][bkt]
    ]
    assert len(moved) == 1, f"expected 1 rewritten bucket, got {moved}"

    # Every pre-existing data file is still there, unmodified: untouched
    # buckets cost zero bytes of rewrite.
    for p, mtime in files_before.items():
        assert os.path.exists(p), f"pre-existing file removed: {p}"
        assert os.path.getmtime(p) == mtime, f"pre-existing file rewritten: {p}"

    got = dict(map(tuple, store.current().collect()))
    assert got[3] == "updated" and len(got) == 64


def test_bucketed_replay_skipped_by_batch_id(spark):
    root = tempfile.mkdtemp(prefix="m4i_bstore_replay_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=4)
    store.merge(_mk(spark, [(1, "a")]), batch_id=0)

    def add_suffix(cur, batch):
        merged = cur.join(batch.select("k", F.col("v").alias("nv")), "k", "full_outer")
        return merged.select(
            "k", F.concat_ws("+", F.col("v"), F.col("nv")).alias("v")
        )

    store.merge(_mk(spark, [(1, "b")]), combine=add_suffix, batch_id=1)
    applied = _rows(store)
    assert applied == [(1, "a+b")]
    assert store.last_batch_id() == 1

    # Replayed non-idempotent combine must be a no-op.
    store.merge(_mk(spark, [(1, "b")]), combine=add_suffix, batch_id=1)
    assert _rows(store) == applied


def test_insert_only_appends_segment_without_reading_or_rewriting(spark):
    """The O(batch) append path: no pre-existing file is rewritten, no
    bucket is compacted — new keys land in fresh segments appended to
    the bucket lists."""
    root = tempfile.mkdtemp(prefix="m4i_bstore_append_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=4)
    store.merge(_mk(spark, [(i, f"v{i}") for i in range(32)]), batch_id=0)
    state0 = store._state()
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(root, "v*", "_bucket=*", "*.parquet"))
    }

    store.merge(
        _mk(spark, [(i, f"n{i}") for i in range(100, 132)]),
        batch_id=1,
        insert_only=True,
    )
    state1 = store._state()
    for bkt, segs in state0["buckets"].items():
        assert state1["buckets"][bkt][: len(segs)] == segs, (
            f"bucket {bkt} was compacted by an append"
        )
    for p, mtime in files_before.items():
        assert os.path.exists(p) and os.path.getmtime(p) == mtime, (
            f"append rewrote pre-existing file: {p}"
        )
    got = dict(map(tuple, store.current().collect()))
    assert len(got) == 64 and got[5] == "v5" and got[105] == "n105"

    # A later upsert still compacts the touched bucket back to one segment.
    store.merge(_mk(spark, [(5, "x5")]), batch_id=2)
    state2 = store._state()
    touched = [
        b
        for b in state2["buckets"]
        if state2["buckets"][b] != state1["buckets"].get(b)
    ]
    assert len(touched) == 1 and len(state2["buckets"][touched[0]]) == 1
    got = dict(map(tuple, store.current().collect()))
    assert len(got) == 64 and got[5] == "x5"


def test_append_segments_compact_at_threshold(spark):
    """Insert-only appends must not grow a bucket's segment list without
    bound: past max_segments the bucket folds to one segment (LSM-style
    amortization), with no data loss and untouched buckets untouched."""
    root = tempfile.mkdtemp(prefix="m4i_bstore_compact_")
    store = BucketedParquetUpsertStore(
        spark, root, ["k"], n_buckets=1, max_segments=3
    )
    for i in range(5):
        store.merge(
            _mk(spark, [(i * 10 + j, f"v{i}_{j}") for j in range(4)]),
            batch_id=i,
            insert_only=True,
        )
        segs = store._state()["buckets"]["0"]
        assert len(segs) <= 3, f"segment list grew unbounded: {segs}"
    got = dict(map(tuple, store.current().collect()))
    assert len(got) == 20 and got[0] == "v0_0" and got[43] == "v4_3"


def test_touch_keys_widens_bucket_set_for_combine_deletes(spark):
    """A combine that deletes keys ABSENT from the batch needs those
    keys' buckets in the touched set — touch_keys supplies them."""
    root = tempfile.mkdtemp(prefix="m4i_bstore_touchkeys_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=8)
    store.merge(_mk(spark, [(i, f"v{i}") for i in range(32)]), batch_id=0)

    deletes = spark.createDataFrame([(7,), (19,)], "k long")

    def upsert_and_delete(cur, batch):
        gone = batch.select("k").unionByName(deletes).distinct()
        return cur.join(F.broadcast(gone), "k", "left_anti").unionByName(batch)

    store.merge(
        _mk(spark, [(3, "x3")]),
        combine=upsert_and_delete,
        batch_id=1,
        touch_keys=deletes,
    )
    got = dict(map(tuple, store.current().collect()))
    assert got[3] == "x3" and 7 not in got and 19 not in got
    assert len(got) == 30  # 32 seeded - 2 deleted (key 3 updated in place)


def test_current_for_keys_plans_only_touched_bucket_files(spark, monkeypatch):
    """The pruned snapshot read must plan ONLY the parquet files of
    buckets containing the requested keys (df.inputFiles() is the
    planned scan set) while still returning those buckets' full rows.
    A bound of 0 bytes keeps this small store on the file-scan path."""
    monkeypatch.setattr(store_mod, "_LOCAL_SNAPSHOT_MAX_BYTES", 0)
    root = tempfile.mkdtemp(prefix="m4i_bstore_prune_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=8)
    store.merge(_mk(spark, [(i, f"v{i}") for i in range(64)]))

    keys = spark.createDataFrame([(3,)], "k long")
    pruned = store.current_for_keys(keys)
    all_files = set(store.current().inputFiles())
    pruned_files = set(pruned.inputFiles())
    assert pruned_files < all_files, "pruned read planned the whole store"
    assert len(pruned_files) <= len(all_files) // 2

    got = dict(map(tuple, pruned.collect()))
    assert got[3] == "v3"
    full = dict(map(tuple, store.current().collect()))
    assert all(full[k] == v for k, v in got.items())


def test_random_op_sequences_match_dict_model(spark):
    """The store is now load-bearing for every streaming sink, so pin
    its semantics against the obvious model: any interleaving of
    upserts, deletes, and insert-only appends (fresh keys) must leave
    ``current()`` equal to a plain dict replay — across bucket counts
    that force both multi-key buckets and compaction."""
    import itertools
    import random

    rng = random.Random(20260813)
    for trial, n_buckets in ((0, 2), (1, 3), (2, 8)):
        root = tempfile.mkdtemp(prefix=f"m4i_bstore_model_{trial}_")
        store = BucketedParquetUpsertStore(
            spark, root, ["k"], n_buckets=n_buckets, max_segments=2
        )
        model: dict[int, str] = {}
        fresh = itertools.count(1000)
        for step in range(6):
            op = rng.choice(["upsert", "delete", "append"])
            if op == "append":
                keys = [next(fresh) for _ in range(rng.randint(1, 4))]
                rows = [(k, f"a{step}_{k}") for k in keys]
                store.merge(_mk(spark, rows), batch_id=step, insert_only=True)
                model.update(dict(rows))
            elif op == "upsert":
                keys = rng.sample(range(16), rng.randint(1, 4)) + (
                    rng.sample(sorted(model), min(2, len(model))) if model else []
                )
                rows = [(k, f"u{step}_{k}") for k in set(keys)]
                store.merge(_mk(spark, rows), batch_id=step)
                model.update(dict(rows))
            else:
                keys = rng.sample(sorted(model), min(3, len(model))) if model else [99]
                store.delete(
                    spark.createDataFrame([(k,) for k in keys], "k long"),
                    batch_id=step,
                )
                for k in keys:
                    model.pop(k, None)
            # Same store object every step: a stale reused snapshot fails.
            cur = store.current()
            got = {} if cur is None else dict(map(tuple, cur.collect()))
            assert got == model, (
                f"trial {trial} (n_buckets={n_buckets}) diverged at step {step}"
            )


def test_unchanged_store_reuses_its_snapshot(spark, monkeypatch):
    """A repeat ``current()`` of an unchanged version runs no Spark job:
    48 segment dirs are above Spark's parallel-listing threshold, so
    building a new file index would list them in a job. A commit must
    still be seen by the next read of the same object. A bound of 0
    bytes keeps this small store on the file-scan path."""
    monkeypatch.setattr(store_mod, "_LOCAL_SNAPSHOT_MAX_BYTES", 0)
    root = tempfile.mkdtemp(prefix="m4i_bstore_reuse_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=16)
    for i in range(3):
        store.merge(
            _mk(spark, [(i * 1000 + j, f"a{i}_{j}") for j in range(200)]),
            batch_id=i,
            insert_only=True,
        )
    state = store._state()
    assert sum(len(v) for v in state["buckets"].values()) == 48

    first = store.current()
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = scheduler.nextJobId()
    second = store.current()
    assert scheduler.nextJobId() == jobs and second is first
    assert second.count() == 600

    store.merge(_mk(spark, [(5, "x5"), (9999, "new")]), batch_id=3)
    got = dict(map(tuple, store.current().collect()))
    assert len(got) == 601 and got[5] == "x5" and got[9999] == "new"
    assert first.count() == 600


def _canon(v):
    """A collected value as a sortable, exactly comparable tuple tree
    (floats by repr, so -0.0 and 0.0 differ)."""
    if isinstance(v, tuple):  # Row
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    if isinstance(v, list):
        return ("list", tuple(_canon(x) for x in v))
    return (type(v).__name__, repr(v))


def test_local_snapshot_matches_file_scan_for_every_store_type(spark):
    """The driver-memory snapshot ``current()`` serves for a small store
    returns the same rows and schema as the Spark file scan of the same
    segments: for every column type the local path accepts, with nulls,
    through ``merge_many`` segments that physically carry a sibling
    store's all-null padding columns, and for a column only the newer
    segments have (older ones read it as null). Built under a non-UTC
    session time zone too: timestamps must not be re-localized."""
    import datetime as dt

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("bin", T.BinaryType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("i8", T.ByteType()),
        T.StructField("i16", T.ShortType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("dec", T.DecimalType(18, 4)),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
        T.StructField("crumbs", T.ArrayType(T.StringType())),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("s", T.StructType([
            T.StructField("x", T.LongType()),
            T.StructField("at", T.TimestampType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ])),
    ])
    ts = dt.datetime(2024, 3, 10, 2, 30, 5, 123456)
    full = (
        b"\x00\xff", True, -128, 32767, -7, 2**53 + 1, 1.5, -0.0,
        Decimal("12.3400"), dt.date(1999, 12, 31), ts, ts,
        {"x": "1", "y": None}, ["p", None], [0.1, float("nan")],
        (7, ts, ["t"]),
    )
    rows = [(f"k{n}",) + full for n in range(6)]
    rows += [(f"n{n}",) + (None,) * len(full) for n in range(6)]
    rows += [("e0", b"", False, 0, 0, 0, 0, 0.0, 0.0, Decimal("0"),
              dt.date(1970, 1, 1), dt.datetime(1970, 1, 1),
              dt.datetime(1970, 1, 1), {}, [], [], (None, None, []))]
    batch = spark.createDataFrame(rows, schema)

    root = tempfile.mkdtemp(prefix="m4i_bstore_local_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=4)
    sibling = BucketedParquetUpsertStore(
        spark, tempfile.mkdtemp(prefix="m4i_bstore_sib_"), ["sk"], n_buckets=2
    )
    merge_many([
        {"store": store, "batch": batch, "batch_id": 0},
        {"store": sibling, "batch_id": 0, "batch": spark.createDataFrame(
            [("s1", 1.0, {"a": 1})], "sk string, sv double, sm map<string,bigint>"
        )},
    ])
    files = glob.glob(os.path.join(root, "v*", "_bucket=*", "*.parquet"))
    assert "sv" in pq.read_schema(files[0]).names  # the sibling's padding
    later = spark.createDataFrame(
        [(f"z{n}",) + full for n in range(4)], schema
    ).withColumn("late", F.lit("new"))
    store.merge(later, batch_id=1, insert_only=True)

    for tz in ("UTC", "America/Los_Angeles"):
        before = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            fresh = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=4)
            local = fresh.current()
            assert fresh._snapshot[2], "a 17-row store must be served locally"
            assert "LocalRelation" in local._jdf.queryExecution().analyzed().toString()
            scan = fresh._state_df(fresh._state())
            assert scan.inputFiles()
            assert local.schema == scan.schema
            assert local.columns[-1] == "late" and "sv" not in local.columns
            got = sorted(map(_canon, local.collect()))
            want = sorted(map(_canon, scan.collect()))
            assert got == want and len(got) == 17
            late = dict(local.select("k", "late").collect())
            assert late["z0"] == "new" and late["k0"] is None
        finally:
            spark.conf.set("spark.sql.session.timeZone", before)


def test_small_store_point_reads_run_no_spark_job(spark, monkeypatch):
    """Under the bound, a filtered read of ``current()`` and a
    multi-row ``current_for_keys`` read fold into the LocalRelation and
    run no Spark job (no bucket computation, no scan), the snapshot
    build included. Over the bound the same reads still plan file
    scans, the bound is checked once per committed version, and a
    repeat ``current()`` reuses its file-scan frame without a job. Rows
    too large for a ``LocalRelation`` (a 1-byte Arrow local-relation
    threshold) keep the file scan too."""
    from m4i_flink_tasks_spark.operators.local_frame import local_frame

    root = tempfile.mkdtemp(prefix="m4i_bstore_local_jobs_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=8)
    store.merge(_mk(spark, [(i, f"v{i}") for i in range(64)]))
    keys = local_frame(spark, [(3,), (7,), (60,)], "k long")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    jobs = scheduler.nextJobId()
    one = store.current().filter(F.col("k") == 3).select("v").collect()
    many = (
        store.current_for_keys(keys)
        .filter(F.col("k").isin(3, 7, 60))
        .select("k", "v")
        .collect()
    )
    assert scheduler.nextJobId() == jobs
    assert [tuple(r) for r in one] == [("v3",)]
    assert sorted(map(tuple, many)) == [(3, "v3"), (7, "v7"), (60, "v60")]

    monkeypatch.setattr(store_mod, "_LOCAL_SNAPSHOT_MAX_BYTES", 0)
    large = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=8)
    sized = []
    build = large._local_df
    monkeypatch.setattr(large, "_local_df", lambda st: sized.append(1) or build(st))
    assert large.current_for_keys(keys).inputFiles()
    assert large.current_for_keys(keys).inputFiles() and large._snapshot[1] is None
    first = large.current()
    assert first.inputFiles() and not large._snapshot[2] and len(sized) == 1
    jobs = scheduler.nextJobId()
    assert large.current() is first and scheduler.nextJobId() == jobs
    assert sorted(map(tuple, large.current_for_keys(keys)
                      .filter(F.col("k").isin(3, 7, 60)).collect())) == sorted(
        map(tuple, many)
    )

    monkeypatch.undo()
    threshold = "spark.sql.execution.arrow.localRelationThreshold"
    spark.conf.set(threshold, "1b")
    try:
        capped = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=8)
        assert capped.current().inputFiles() and not capped._snapshot[2]
    finally:
        spark.conf.unset(threshold)


def test_delete_emptied_bucket_leaves_pointer_map(spark):
    root = tempfile.mkdtemp(prefix="m4i_bstore_empty_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=2)
    store.merge(_mk(spark, [(1, "a"), (2, "b")]))
    store.delete(spark.createDataFrame([(1,), (2,)], "k long"))
    cur = store.current()
    assert cur is None or cur.count() == 0


def test_time_travel_reads_committed_versions(spark):
    root = tempfile.mkdtemp(prefix="m4i_bstore_tt_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=4)
    store.merge(_mk(spark, [(1, "a"), (2, "b")]), batch_id=0)
    store.merge(_mk(spark, [(2, "B"), (3, "c")]), batch_id=1)
    store.merge(_mk(spark, [(1, "A2")]), batch_id=2)

    hist = store.history()
    assert [h["batch_id"] for h in hist] == [0, 1, 2]
    v0, v1, v2 = (h["version"] for h in hist)
    assert sorted(map(tuple, store.read_version(v0).collect())) == [
        (1, "a"), (2, "b")]
    assert sorted(map(tuple, store.read_version(v1).collect())) == [
        (1, "a"), (2, "B"), (3, "c")]
    assert sorted(map(tuple, store.read_version(v2).collect())) == _rows(store)

    import pytest
    with pytest.raises(KeyError):
        store.read_version(v2 + 1)  # never committed


def test_vacuum_bounds_history_but_keeps_referenced_segments(spark):
    root = tempfile.mkdtemp(prefix="m4i_bstore_vac_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=4)
    # keys chosen so the second merge touches a strict subset of buckets:
    store.merge(_mk(spark, [(k, f"v{k}") for k in range(8)]), batch_id=0)
    before = _rows(store)
    store.merge(_mk(spark, [(0, "V0")]), batch_id=1)
    expected = [(0, "V0")] + [t for t in before if t[0] != 0]

    hist = store.history()
    dropped = store.vacuum(keep_last=1)
    assert dropped == [hist[0]["version"]]
    # old version unreadable, current intact INCLUDING untouched buckets
    with pytest.raises(KeyError):
        store.read_version(hist[0]["version"])
    assert _rows(store) == sorted(expected)
    assert [h["version"] for h in store.history()] == [hist[1]["version"]]
    # the v0 version dir must SURVIVE the vacuum: untouched buckets of
    # the current map still point into it
    assert os.path.isdir(os.path.join(root, f"v{hist[0]['version']:06d}"))


def test_vacuum_removes_fully_unreferenced_version_dirs(spark):
    root = tempfile.mkdtemp(prefix="m4i_bstore_vac2_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=2)
    store.merge(_mk(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]), batch_id=0)
    # rewrite EVERY bucket so version 0's segments become unreferenced
    store.merge(_mk(spark, [(1, "A"), (2, "B"), (3, "C"), (4, "D")]), batch_id=1)
    hist = store.history()
    v_old = hist[0]["version"]
    assert os.path.isdir(os.path.join(root, f"v{v_old:06d}"))
    store.vacuum(keep_last=1)
    assert not os.path.isdir(os.path.join(root, f"v{v_old:06d}"))
    assert _rows(store) == [(1, "A"), (2, "B"), (3, "C"), (4, "D")]


def test_merge_many_replay_after_crash_before_commit(spark, monkeypatch):
    """A crash after the combined write, before a store's commit, leaves
    that store's renamed buckets in an uncommitted version dir; the
    replay of the same batch id must clear it and converge to a clean
    run. Batch 1 crashes at the first store's commit, batch 2 at the
    second's (the first store's replay is then fenced)."""
    root = tempfile.mkdtemp(prefix="m4i_mm_crash_")
    a, b = (
        BucketedParquetUpsertStore(spark, os.path.join(root, n), ["k"], n_buckets=4)
        for n in "ab"
    )

    def step(batch_id, upserts, appends):
        merge_many(
            [
                {"store": a, "batch": _mk(spark, upserts), "batch_id": batch_id},
                {
                    "store": b,
                    "batch": _mk(spark, appends),
                    "batch_id": batch_id,
                    "insert_only": True,
                },
            ]
        )

    commit = BucketedParquetUpsertStore._commit_written
    seed = [(i, f"v{i}") for i in range(8)]
    step(0, seed, seed)
    batches = {
        1: ([(3, "x3"), (8, "n8")], [(i, f"n{i}") for i in range(8, 12)]),
        2: ([(3, "y3")], [(12, "n12")]),
    }
    for batch_id, crash_at in ((1, 0), (2, 1)):
        calls = []

        def crashing(self, *args, _crash_at=crash_at, **kwargs):
            calls.append(self.root)
            if len(calls) - 1 == _crash_at:
                raise RuntimeError("injected crash before commit")
            return commit(self, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(BucketedParquetUpsertStore, "_commit_written", crashing)
            with pytest.raises(RuntimeError, match="injected crash"):
                step(batch_id, *batches[batch_id])
        step(batch_id, *batches[batch_id])

    # what a clean run of the three batches leaves in each store
    seed = dict(seed)
    assert _rows(a) == sorted({**seed, 3: "y3", 8: "n8"}.items())
    assert _rows(b) == sorted(
        {**seed, **{i: f"n{i}" for i in range(8, 13)}}.items()
    )


def test_commit_refuses_a_batch_that_drops_a_recorded_column(spark):
    root = tempfile.mkdtemp(prefix="m4i_bstore_schema_")
    store = BucketedParquetUpsertStore(spark, root, ["k"], n_buckets=4)
    store.merge(
        spark.createDataFrame([(1, "a", 1.0)], "k long, v string, w double"),
        batch_id=0,
        insert_only=True,
    )
    state, files = store._state(), sorted(os.listdir(root))
    with pytest.raises(ValueError, match="drops recorded columns"):
        store.merge(
            spark.createDataFrame([(2, "b")], "k long, v string"),
            batch_id=1,
            insert_only=True,
        )
    assert store._state() == state and sorted(os.listdir(root)) == files
    assert _rows(store) == [(1, "a", 1.0)]


def test_monoid_combine_folds_one_sided_keys_and_keeps_types(spark):
    schema = "k long, s decimal(38,0), lo int, hi int, ids array<bigint>"
    cur = spark.createDataFrame(
        [(1, Decimal(5), 3, 7, [1, 2]), (2, Decimal(1), 4, 4, [9])], schema
    )
    batch = spark.createDataFrame(
        [(1, Decimal(2), 1, 9, [2, 3]), (3, Decimal(4), 6, 6, [5])], schema
    )
    ops = {"s": "sum", "lo": "min", "hi": "max", "ids": "union"}
    out = monoid_combine(["k"], ops)(cur, batch)
    # the decimal sum keeps the decimal(38,0) the moment state stores
    assert out.dtypes == [
        ("k", "bigint"),
        ("s", "decimal(38,0)"),
        ("lo", "int"),
        ("hi", "int"),
        ("ids", "array<bigint>"),
    ]
    got = {r["k"]: tuple(r)[1:] for r in out.collect()}
    assert got == {
        1: (Decimal(7), 1, 9, [1, 2, 3]),
        2: (Decimal(1), 4, 4, [9]),  # stored side only
        3: (Decimal(4), 6, 6, [5]),  # batch side only
    }
    with pytest.raises(ValueError, match="unknown ops"):
        monoid_combine(["k"], {"s": "avg"})


def _orphan_version_dirs(store):
    """``vNNNNNN`` dirs that no snapshot left in the store references."""
    names = os.listdir(store.root)
    referenced = set()
    for name in names:
        if name.startswith("_SNAP.v") and name.endswith(".json"):
            with open(os.path.join(store.root, name), encoding="utf-8") as fh:
                for versions in json.load(fh)["buckets"].values():
                    referenced.update(versions)
    return sorted(
        n for n in names
        if n.startswith("v") and n[1:].isdigit() and int(n[1:]) not in referenced
    )


def test_every_write_path_survives_a_crash_and_replay(spark, monkeypatch):
    """The crash matrix of the one segment writer: first commit, a
    ``combine`` + ``touch_keys`` upsert, an ``insert_only`` append that
    compacts (``max_segments=1``), ``delete`` and a two-store
    ``merge_many`` (the second store's first commit), each crashed
    after its segment renames (before the ``_SNAP`` write) and after
    the ``_SNAP`` write (before the ``_CURRENT`` swap), then replayed
    with the same batch id. The replay must not raise and must leave
    ``current()`` and the history's batch ids equal to a clean run's,
    and ``vacuum(keep_last=1)`` must leave no unreferenced version dir.
    The combine is not idempotent, so a half-applied crash shows."""
    from m4i_flink_tasks_spark.streaming import store as store_mod

    dels = spark.createDataFrame([(5,), (6,)], "k long")

    def append_and_drop(cur, batch):
        merged = cur.join(
            batch.select("k", F.col("v").alias("nv")), "k", "full_outer"
        ).select("k", F.concat_ws("+", "v", "nv").alias("v"))
        return merged.join(F.broadcast(dels), "k", "left_anti")

    def ops(a, b):
        return [
            lambda: a.merge(
                _mk(spark, [(i, f"v{i}") for i in range(8)]), batch_id=0
            ),
            lambda: a.merge(
                _mk(spark, [(1, "c1"), (9, "c9")]),
                combine=append_and_drop, touch_keys=dels, batch_id=1,
            ),
            lambda: a.merge(
                _mk(spark, [(k, f"a{k}") for k in range(20, 24)]),
                insert_only=True, batch_id=2,
            ),
            lambda: a.delete(
                spark.createDataFrame([(2,), (21,)], "k long"), batch_id=3
            ),
            lambda: merge_many([
                {"store": a, "batch": _mk(spark, [(3, "m3")]), "batch_id": 4},
                {"store": b, "batch": _mk(spark, [(7, "b7")]), "batch_id": 4,
                 "insert_only": True},
            ]),
        ]

    def stores(tag):
        root = tempfile.mkdtemp(prefix=f"m4i_bstore_matrix_{tag}_")
        return (
            BucketedParquetUpsertStore(
                spark, os.path.join(root, "a"), ["k"], n_buckets=4,
                max_segments=1,
            ),
            BucketedParquetUpsertStore(
                spark, os.path.join(root, "b"), ["k"], n_buckets=2
            ),
        )

    def observe(a, b):
        """What the test compares after each step, then vacuum."""
        seen = []
        for s in (a, b):
            cur = s.current()
            rows = None if cur is None else sorted(map(tuple, cur.collect()))
            seen.append((rows, [h["batch_id"] for h in s.history()]))
        for s in (a, b):
            s.vacuum(keep_last=1)
            assert _orphan_version_dirs(s) == [], s.root
        return seen

    a, b = stores("clean")
    clean = []
    for op in ops(a, b):
        op()
        clean.append(observe(a, b))
    # five commits (versions 0-4) plus the append step's compaction
    assert a._state()["version"] == len(clean), "the append did not compact"

    real = store_mod._replace_text
    for fault in ("_SNAP.", "_CURRENT"):
        a, b = stores(fault.strip("_."))

        def crashing(path, text, _fault=fault):
            if os.path.basename(path).startswith(_fault):
                raise RuntimeError(f"injected crash before {_fault} write")
            real(path, text)

        for step, op in enumerate(ops(a, b)):
            # Warm each object's snapshot, so the replay is checked
            # through a store that already holds one.
            a.current()
            b.current()
            with monkeypatch.context() as m:
                m.setattr(store_mod, "_replace_text", crashing)
                with pytest.raises(RuntimeError, match="injected crash"):
                    op()
            op()
            assert observe(a, b) == clean[step], f"{fault} crash at step {step}"
