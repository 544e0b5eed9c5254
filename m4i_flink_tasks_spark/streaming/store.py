"""Versioned parquet upsert store — the Delta-``MERGE INTO`` stand-in
used by the ``foreachBatch`` sinks (SURVEY §2.1 S4, §2.4 Q7).

The reference upserts into Elasticsearch with a deterministic doc id
(publish_state_job.py:77-84) and deletes App Search docs by id
(synchronize_app_search.py:200-202). Here the store is a directory of
immutable parquet versions plus a ``_CURRENT`` pointer file; every merge
writes a new version and atomically swaps the pointer, so readers never
see a half-written store and a re-run of the same micro-batch is
idempotent (last-writer-wins by key).

Scale posture: ``ParquetUpsertStore`` rewrites the whole store per
merge — O(store) per micro-batch, fine for small state, not at 100 TB.
``BucketedParquetUpsertStore`` below bounds merge cost by the TOUCHED
key buckets (hash-bucket partitioning + per-bucket version pointers),
which is the posture that survives state growth. The production
swap-in for either is Delta Lake / Iceberg ``MERGE`` — identical
logical contract (keyed upsert + delete, snapshot isolation), with
file-level pruning so a merge touches only matching files. A swap-in
must carry the bucketed store's whole caller surface, not just
``merge``/``delete``/``current``: the pipelines also call
``merge_many``, ``current_for_keys``, ``touched_buckets`` with
``current_for_buckets``, ``has_state``, ``last_batch_id``,
``require_current`` and the time-travel trio ``history`` /
``read_version`` / ``vacuum``.

The bucketed store has ONE writer: ``merge``, ``merge_many``,
``delete`` and compaction write segments through ``_write_segments``
and commit through ``_commit_written``, so every crash point has the
same recovery — the replay of the batch id overwrites what it left.

Filesystem assumption: every store (and all stores of one
``merge_many`` call) lives on ONE local filesystem. Commits are
``os.replace``/``os.rename`` of files and directories, which is atomic
only within a POSIX filesystem: on S3-style object stores a rename is a
non-atomic copy, and across devices it raises ``EXDEV``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# A committed version whose segment files total at most this many bytes
# is served from driver memory by ``current()``: pyarrow reads it once
# and ``createDataFrame`` turns the rows into an Arrow-backed
# ``LocalRelation`` (no file scan; filters or limits over it run no Spark
# job). The bound caps what one snapshot pulls into the driver, so the
# driver never holds O(store) at scale. It must also keep the Arrow
# stream under Spark's 48 MB ``spark.sql.execution.arrow.localRelationThreshold``
# (above it ``createDataFrame`` plans an RDD scan instead). The repo's
# stores decode to 0.06-3.1x their parquet size in Arrow (the 2.3 MB
# ``stream_duplicate_spans`` state of bench.py's sf0.1 run: 2.9x), so
# 4 MiB of files comes to about 13 MB. A store whose rows still come
# out too large for a ``LocalRelation`` keeps the file scan
# (``isLocal()``).
_LOCAL_SNAPSHOT_MAX_BYTES = 4 << 20

# Column types whose pyarrow read equals Spark's parquet read (checked
# per type by tests/test_store_bucketed.py); a store schema with any
# other type keeps the file scan.
_LOCAL_ATOMIC_TYPES = (
    T.StringType, T.BinaryType, T.BooleanType, T.ByteType, T.ShortType,
    T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _locally_readable(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _locally_readable(dt.elementType)
    if isinstance(dt, T.MapType):
        return _locally_readable(dt.keyType) and _locally_readable(dt.valueType)
    if isinstance(dt, T.StructType):
        return all(_locally_readable(f.dataType) for f in dt.fields)
    return type(dt) in _LOCAL_ATOMIC_TYPES


def _as_nullable(node):
    """Spark's ``StructType.asNullable`` on a schema's JSON form: a
    parquet scan reports every field, array element and map value as
    nullable, whatever the recorded schema says."""
    if isinstance(node, dict):
        return {
            k: True if k in ("nullable", "containsNull", "valueContainsNull")
            else _as_nullable(v)
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [_as_nullable(v) for v in node]
    return node


def _replace_text(path: str, text: str) -> None:
    """Atomically (re)write a small file: write a uniquely named
    sibling, then ``os.replace`` it over ``path``. The per-call suffix
    keeps concurrent writers (sinks on threads of one driver) off each
    other's temp files."""
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
    os.replace(tmp, path)


class ParquetUpsertStore:
    """Keyed upsert store over versioned parquet directories."""

    def __init__(
        self, spark: SparkSession, root: str, key_cols: Sequence[str]
    ) -> None:
        self.spark = spark
        self.root = root
        self.key_cols = list(key_cols)
        os.makedirs(root, exist_ok=True)

    # -- version bookkeeping -------------------------------------------
    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def _pointer_state(self) -> tuple[int, int | None]:
        """(current version, last applied batch id or None)."""
        try:
            with open(self._pointer, encoding="utf-8") as fh:
                lines = fh.read().strip().splitlines()
        except FileNotFoundError:
            return -1, None
        version = int(lines[0])
        batch_id = int(lines[1]) if len(lines) > 1 else None
        return version, batch_id

    def _current_version(self) -> int:
        return self._pointer_state()[0]

    def last_batch_id(self) -> int | None:
        """Streaming batch id recorded with the current version, if any."""
        return self._pointer_state()[1]

    def _version_path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:06d}")

    def _publish(self, df: DataFrame, batch_id: int | None = None) -> None:
        # The pointer swap is the commit point; writing the batch id in
        # the same atomic rename means "which batch is applied" can never
        # disagree with "which version is current" — the transaction-log
        # half of the standard foreachBatch exactly-once recipe (Delta
        # records txnAppId/txnVersion the same way).
        version = self._current_version() + 1
        df.write.mode("overwrite").parquet(self._version_path(version))
        content = str(version) if batch_id is None else f"{version}\n{batch_id}"
        _replace_text(self._pointer, content)

    # -- public API ----------------------------------------------------
    def current(self) -> DataFrame | None:
        """Snapshot of the store, or None before the first merge."""
        version = self._current_version()
        if version < 0:
            return None
        return self.spark.read.parquet(self._version_path(version))

    def merge(
        self,
        batch: DataFrame,
        combine: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
        batch_id: int | None = None,
    ) -> None:
        """Upsert ``batch`` by key.

        Default semantics = ``MERGE … WHEN MATCHED THEN UPDATE SET *``:
        rows in ``batch`` replace same-key rows in the store. A custom
        ``combine(current, batch) -> new_state`` implements aggregating
        merges (e.g. additive counters + last-writer-wins columns).

        ``batch_id``: pass the ``foreachBatch`` batch id for aggregating
        combines. Last-writer-wins merges are naturally idempotent, but
        an additive combine applied twice double-counts — and a crash
        after the pointer swap but before the streaming checkpoint
        commits makes Spark replay the batch. Recording the id with the
        version and skipping ``batch_id <= last_batch_id()`` makes the
        replay a no-op (effectively-once).
        """
        if batch_id is not None:
            last = self.last_batch_id()
            if last is not None and batch_id <= last:
                return
        cur = self.current()
        if cur is None:
            self._publish(batch, batch_id)
            return
        if combine is not None:
            self._publish(combine(cur, batch), batch_id)
            return
        kept = cur.join(
            F.broadcast(batch.select(*self.key_cols).distinct()),
            on=self.key_cols,
            how="left_anti",
        )
        self._publish(kept.unionByName(batch), batch_id)

    def delete(self, keys: DataFrame) -> None:
        """``MERGE … WHEN MATCHED THEN DELETE`` — drop matching keys."""
        cur = self.current()
        if cur is None:
            return
        self._publish(
            cur.join(F.broadcast(keys.distinct()), on=self.key_cols, how="left_anti")
        )


class BucketedParquetUpsertStore:
    """Log-structured, hash-bucketed variant of
    :class:`ParquetUpsertStore` whose merge cost is bounded by the
    TOUCHED buckets (upserts) or the batch itself (appends), never the
    store size.

    ``ParquetUpsertStore`` rewrites the whole store every merge —
    honest about being O(store) per micro-batch, which does not survive
    100x state growth. Here rows are hash-partitioned by key into
    ``n_buckets`` buckets (``xxhash64 % n_buckets``, the same layout a
    Delta/Iceberg table would get from bucket partitioning), and each
    bucket points at a LIST of immutable parquet segments (the LSM /
    Delta file-log shape). A merge

    - ``insert_only=True`` (caller guarantees batch keys are new —
      post-dedup streams, append-mode joins, unique event ids): writes
      the batch as ONE new segment per touched bucket and APPENDS it to
      those buckets' segment lists. Nothing is read, nothing is
      rewritten — O(batch) regardless of store size.
    - upsert / ``combine`` / ``delete``: computes the batch's touched
      buckets (a <= n_buckets-row collect), reads ONLY those buckets'
      segments, writes one compacted segment per touched bucket and
      REPLACES their lists (compaction is folded into the rewrite the
      merge had to do anyway).
    - commits by atomically replacing a JSON pointer mapping every
      bucket to its segment list.

    Untouched buckets keep pointing at their old segments — zero bytes
    rewritten for them (enforced by ``tests/test_store_bucketed.py``).
    The pointer also records the last applied foreachBatch batch id
    (same effectively-once contract as the base store). The production
    swap-in remains Delta/Iceberg ``MERGE`` with file-level pruning;
    this class demonstrates the bounded-merge contract with plain
    parquet.

    A custom ``combine(current, batch)`` receives the current rows of
    the touched buckets only and must return EVERY row that should
    remain in those buckets (it must preserve same-bucket keys it does
    not change; all combines in this repo are full-outer joins by key,
    which do). ``touch_keys`` widens the touched-bucket set beyond the
    batch's own keys — required when the combine also applies deletes
    for keys absent from ``batch``.

    Key-uniqueness invariant: within a bucket, a key lives in exactly
    one segment. Upserts/deletes restore it by compacting; callers of
    ``insert_only`` must not re-insert existing keys (replays are
    already screened by ``batch_id``).

    Snapshot reuse: ``current()`` keeps the frame it last built and
    returns it again while ``_CURRENT`` is unchanged (same inode, mtime
    and state), the way Delta's log keeps one ``Snapshot`` until a new
    commit lands. For a small store (segment files of at most
    ``_LOCAL_SNAPSHOT_MAX_BYTES``) that frame holds the DATA: the
    segments are read once with pyarrow into an Arrow-backed
    ``LocalRelation``, so point reads over it scan no files and mostly
    run no Spark job, and ``current_for_keys`` returns it whole. A
    larger store's frame is a file index over its segments, so repeat
    reads list no files. Either is safe because committed version dirs
    are immutable, ``vacuum`` keeps every dir the current bucket map
    references, and uncommitted version dirs never appear in
    ``_CURRENT``. Merges, ``delete``, compaction, ``read_version`` and
    ``current_for_buckets`` read the files through Spark, uncached:
    ``vacuum`` can delete old versions, and single-bucket reads rarely
    repeat.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: Sequence[str],
        n_buckets: int = 16,
        max_segments: int = 16,
    ) -> None:
        self.spark = spark
        self.root = root
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        # Append-only buckets compact once their segment list exceeds
        # this — LSM-style amortization: each row is rewritten every
        # max_segments appends, keeping reads O(n_buckets * max_segments)
        # files while appends stay O(batch).
        self.max_segments = max_segments
        # (pointer key, frame, frame holds the rows in driver memory) of
        # the last snapshot built — see ``current()``.
        self._snapshot: tuple[tuple, DataFrame | None, bool] | None = None
        os.makedirs(root, exist_ok=True)

    # -- pointer bookkeeping -------------------------------------------
    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def _snap_path(self, version: int) -> str:
        return os.path.join(self.root, f"_SNAP.v{version:06d}.json")

    def _state(self) -> dict | None:
        try:
            with open(self._pointer, encoding="utf-8") as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def last_batch_id(self) -> int | None:
        state = self._state()
        return None if state is None else state.get("batch_id")

    def _version_path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:06d}")

    def _bucket_path(self, version: int, bucket: int) -> str:
        return os.path.join(self._version_path(version), f"_bucket={bucket}")

    def _bucket_col(self):
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]),
            F.lit(self.n_buckets),
        ).cast("int")

    def _commit(
        self,
        buckets: dict[str, int],
        version: int,
        batch_id: int | None,
        schema_json: str | None = None,
    ) -> None:
        state = {"version": version, "batch_id": batch_id, "buckets": buckets}
        if schema_json is not None:
            # The store's logical column set, recorded at commit time so
            # reads clip segments to exactly these columns — required
            # once `merge_many` writes several stores' rows into one
            # job's files (other stores' columns travel as all-null
            # parquet columns in shared files and must not leak into
            # snapshots).
            state["schema"] = schema_json
        # Immutable per-version snapshot BEFORE the pointer swap (the
        # Delta transaction-log shape: one JSON per commit). A crash
        # between the two writes leaves a snapshot whose version is
        # ahead of the pointer — history()/read_version() filter to
        # versions <= the pointer, so uncommitted snapshots are
        # invisible and the next commit simply overwrites.
        text = json.dumps(state)
        _replace_text(self._snap_path(version), text)
        _replace_text(self._pointer, text)

    # -- public API ----------------------------------------------------
    def current(self) -> DataFrame | None:
        """Snapshot of the store, or None before the first merge.

        The first call on a committed version builds the frame; repeat
        calls return it. When the version's segment files total at most
        ``_LOCAL_SNAPSHOT_MAX_BYTES`` (and its recorded schema has only
        types pyarrow reads exactly as Spark does), the frame holds the
        rows themselves: one pyarrow read of exactly the segments the
        ``_CURRENT`` read lists, clipped to the recorded schema, handed
        to ``createDataFrame`` as an Arrow-backed ``LocalRelation``. A
        filter, limit or projection over it runs in the driver with no
        Spark job. Otherwise the frame is a Spark file scan of those
        segments, and a repeat call lists no segment files again.

        Catalyst folds a projection or filter straight over a
        ``LocalRelation`` by evaluating it on every row, before column
        pruning or filter pushdown. So an ANSI-raising expression
        (``element_at`` past the end, an overflowing cast) raises over
        the local frame even in a column a later ``count`` never reads,
        or on a row a later filter drops, where the file scan skips it:
        guard such expressions with ``try_*`` or ``when``.

        The frame is reused only while ``_CURRENT`` has the same inode,
        mtime and parsed state it had when the frame was built. The file
        is stat'ed before it is read, and every commit replaces it
        through ``_replace_text``'s ``os.replace``, so a new commit (or a
        root rebuilt in place) always misses; a commit racing this read
        can only cause a miss, never a stale hit. Reuse is safe because

        - committed version directories are immutable: the one segment
          writer only renames buckets into a version above the pointer;
        - ``vacuum`` never deletes a directory the current bucket map
          references, and a hit means the cached map IS the current one;
        - uncommitted ``vNNNNNN`` directories (the only ones a replay
          deletes and rewrites) never appear in ``_CURRENT``.
        """
        key = self._pointer_key()
        return None if key is None else self._snapshot_for(key, whole=True)[0]

    def require_current(self) -> DataFrame:
        """``current()`` for a caller whose run must have committed: a
        sink reading back what it wrote. Raises ``RuntimeError`` naming
        the store root when no version is committed."""
        df = self.current()
        if df is None:
            raise RuntimeError(f"store {self.root} is empty: no version committed")
        return df

    def _pointer_key(self) -> tuple | None:
        """``(inode, mtime_ns, state)`` of ``_CURRENT`` (stat'ed before
        it is read), or None before the first commit."""
        try:
            st = os.stat(self._pointer)
        except FileNotFoundError:
            return None
        state = self._state()
        return None if state is None else (st.st_ino, st.st_mtime_ns, state)

    def _snapshot_for(self, key: tuple, whole: bool) -> tuple[DataFrame | None, bool]:
        """``(frame, frame holds the rows in driver memory)`` for pointer
        ``key``. The first call on a committed version decides whether it
        is served from driver memory, and the cache keeps that decision.
        A store over the bound gets its file-scan frame only once a
        caller asks for the ``whole`` store (``current_for_keys`` reads
        touched buckets instead)."""
        cached = self._snapshot  # one read: the (key, frame, local) triple stays whole
        if cached is None or cached[0] != key:
            cached = (key, *self._local_df(key[2]))
        if whole and cached[1] is None:
            cached = (key, self._state_df(key[2]), False)
        self._snapshot = cached
        return cached[1], cached[2]

    def _local_df(self, state: dict) -> tuple[DataFrame | None, bool]:
        """``(frame, True)`` when the committed rows are served from
        driver memory: read with pyarrow into an Arrow-backed
        ``LocalRelation``. ``(None, False)`` when they are not: no
        recorded schema, a type outside ``_LOCAL_ATOMIC_TYPES``, no
        segments, or segment files over ``_LOCAL_SNAPSHOT_MAX_BYTES``
        (the size walk stops at the bound, so a large store stats only
        a few segment dirs), or rows that decode too large for a
        ``LocalRelation``."""
        schema_json = state.get("schema")
        if schema_json is None:
            return None, False
        schema = T.StructType.fromJson(_as_nullable(json.loads(schema_json)))
        if not _locally_readable(schema):
            return None, False
        files, size = [], 0
        for path in self._segment_paths(state):
            for entry in os.scandir(path):
                if entry.name.endswith(".parquet"):  # not Spark's .crc files
                    size += entry.stat().st_size
                    if size > _LOCAL_SNAPSHOT_MAX_BYTES:
                        return None, False
                    files.append(entry.path)
        if not files:
            return None, False
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        # TimestampType maps to tz-aware UTC micros, so createDataFrame
        # does not re-localize Spark's UTC-normalized INT96 values.
        target = to_arrow_schema(schema)
        tables = []
        for path in files:
            with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
                present = set(pf.schema_arrow.names)
                # Clip to the recorded schema: merge_many's padding columns
                # of sibling stores are never read, and a column this
                # segment predates reads as nulls, as in Spark's scan.
                t = pf.read(columns=[f.name for f in target if f.name in present])
            tables.append(pa.Table.from_arrays(
                [
                    t.column(f.name).cast(f.type) if f.name in present
                    else pa.nulls(t.num_rows, f.type)
                    for f in target
                ],
                schema=target,
            ))
        df = self.spark.createDataFrame(pa.concat_tables(tables), schema)
        # Over spark.sql.execution.arrow.localRelationThreshold the frame
        # is an RDD scan, not a LocalRelation: keep the file scan then.
        return (df, True) if df.isLocal() else (None, False)

    def _segment_paths(self, state: dict) -> list[str]:
        return [
            self._bucket_path(v, int(b))
            for b, versions in state["buckets"].items()
            for v in versions
        ]

    def _state_df(self, state: dict) -> DataFrame | None:
        paths = self._segment_paths(state)
        return self._read_segments(state, paths) if paths else None

    def _read_segments(self, state: dict, paths: list[str]) -> DataFrame:
        """Read segment dirs, clipped to the store's recorded logical
        schema when one is present (``merge_many`` segments physically
        carry sibling stores' columns as all-null padding; the explicit
        read schema projects them away at the scan)."""
        schema_json = state.get("schema")
        reader = self.spark.read
        if schema_json is not None:
            reader = reader.schema(T.StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(*paths)

    # -- time travel (the Delta DESCRIBE HISTORY / VERSION AS OF /
    # VACUUM trio over the same snapshot-per-commit log) ---------------
    def history(self) -> list[dict]:
        """Committed versions, oldest first: ``{version, batch_id}`` —
        ``DESCRIBE HISTORY``. Only snapshots at or below the current
        pointer count (a crash can leave one uncommitted snapshot
        ahead of it); vacuumed versions disappear."""
        state = self._state()
        if state is None:
            return []
        entries = []
        for name in sorted(os.listdir(self.root)):
            if not (name.startswith("_SNAP.v") and name.endswith(".json")):
                continue
            with open(os.path.join(self.root, name), encoding="utf-8") as fh:
                snap = json.load(fh)
            if snap["version"] <= state["version"]:
                entries.append(
                    {"version": snap["version"], "batch_id": snap["batch_id"]}
                )
        return entries

    def read_version(self, version: int) -> DataFrame | None:
        """The store as of a committed version — ``VERSION AS OF``.
        Raises KeyError for uncommitted or vacuumed versions."""
        state = self._state()
        if state is None or version > state["version"]:
            raise KeyError(f"version {version} is not committed")
        try:
            with open(self._snap_path(version), encoding="utf-8") as fh:
                snap = json.load(fh)
        except FileNotFoundError:
            raise KeyError(
                f"version {version} was vacuumed (or never existed)"
            ) from None
        return self._state_df(snap)

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop history older than the last ``keep_last`` committed
        versions and delete version directories no retained snapshot
        references — storage stays bounded while recent time travel
        keeps working. Segment dirs still referenced by the CURRENT
        bucket map are always kept (untouched buckets point at old
        versions indefinitely — that is the design, not garbage).
        Returns the vacuumed version numbers."""
        state = self._state()
        if state is None:
            return []
        history = self.history()
        retained = history[max(len(history) - keep_last, 0):]
        retained_versions = {h["version"] for h in retained}
        referenced: set[int] = set()
        for h in retained:
            with open(self._snap_path(h["version"]), encoding="utf-8") as fh:
                snap = json.load(fh)
            for versions in snap["buckets"].values():
                referenced.update(int(v) for v in versions)
        for versions in state["buckets"].values():
            referenced.update(int(v) for v in versions)
        dropped = []
        for h in history:
            if h["version"] not in retained_versions:
                os.remove(self._snap_path(h["version"]))
                dropped.append(h["version"])
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit():
                v = int(name[1:])
                if v not in referenced and v <= state["version"]:
                    shutil.rmtree(os.path.join(self.root, name))
        return dropped

    def current_for_keys(self, keys: DataFrame) -> DataFrame | None:
        """Snapshot holding at least the rows of ``keys``' key-column
        values; rows of OTHER keys are present too, so callers
        filter/join as needed. A small store (at most
        ``_LOCAL_SNAPSHOT_MAX_BYTES`` of segment files) is served whole
        from driver memory (see ``current()``), without computing the
        buckets. A larger store's read plans only the parquet paths of
        the buckets containing ``keys``, the point-lookup analogue of
        Delta file pruning.
        """
        key = self._pointer_key()
        if key is None:
            return None
        df, local = self._snapshot_for(key, whole=False)
        if local:
            return df
        touched = self._touched_buckets(keys.select(*self.key_cols))
        return self._touched_current(key[2], touched)

    def has_state(self) -> bool:
        """True once a first merge has committed — lets callers skip
        touched-bucket computation for reads that would return None."""
        return self._state() is not None

    def touched_buckets(self, keys: DataFrame) -> list[int]:
        """Public form of the touched-bucket computation (one
        <= n_buckets-row collect). A caller that reads AND merges the
        same key set in one micro-batch can compute this once and pass
        it to both ``current_for_buckets`` and ``merge`` — without it,
        the read and the merge each run their own distinct+collect job
        over the batch keys (one redundant driver round trip per store
        per micro-batch)."""
        return self._touched_buckets(keys.select(*self.key_cols))

    def current_for_buckets(self, touched: list[int]) -> DataFrame | None:
        """Snapshot restricted to precomputed ``touched`` buckets —
        pair with ``touched_buckets``."""
        state = self._state()
        if state is None:
            return None
        return self._touched_current(state, touched)

    def _touched_current(self, state: dict, touched: list[int]) -> DataFrame | None:
        paths = [
            self._bucket_path(v, b)
            for b in touched
            for v in state["buckets"].get(str(b), [])
        ]
        if not paths:
            return None
        return self._read_segments(state, paths)

    def _touched_buckets(self, keyed: DataFrame) -> list[int]:
        """Distinct buckets hit by ``keyed``'s key columns — a
        <= n_buckets-row collect, independent of store size."""
        return sorted(
            r["_bucket"]
            for r in keyed.select(self._bucket_col().alias("_bucket"))
            .distinct()
            .collect()
        )

    def _compact_overflow(
        self, buckets: dict[str, list[int]], version: int, schema_json: str
    ) -> tuple[int, dict[str, list[int]]]:
        """Fold buckets whose segment list exceeds ``max_segments`` into
        one segment each (the LSM amortization of the append path)."""
        overflow = [
            b for b, segs in buckets.items() if len(segs) > self.max_segments
        ]
        if not overflow:
            return version, buckets
        cver = version + 1
        paths = [
            self._bucket_path(v, int(b)) for b in overflow for v in buckets[b]
        ]
        rows = self._read_segments({"schema": schema_json}, paths)
        (compacted,) = _write_segments([(self, rows, cver)])
        for b in overflow:
            buckets.pop(b, None)
        for b in compacted:
            buckets[b] = [cver]
        return cver, buckets

    def merge(
        self,
        batch: DataFrame,
        combine: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
        batch_id: int | None = None,
        insert_only: bool = False,
        touch_keys: DataFrame | None = None,
        touched_buckets: list[int] | None = None,
    ) -> None:
        """Keyed upsert rewriting only buckets containing batch keys —
        or, with ``insert_only``, appending one O(batch) segment and
        rewriting nothing at all. The one-store case of
        :func:`merge_many`, so it writes and commits through the same
        code.

        ``touched_buckets``: precomputed result of
        ``touched_buckets(batch-and-touch-keys)`` — skips this merge's
        own distinct+collect when the caller already ran it for the
        paired read. The caller must pass the buckets of exactly the
        batch (plus touch_keys) key set; a superset only widens the
        rewrite, a subset would corrupt the store."""
        merge_many([{
            "store": self, "batch": batch, "combine": combine,
            "batch_id": batch_id, "insert_only": insert_only,
            "touch_keys": touch_keys, "touched_buckets": touched_buckets,
        }])

    def _commit_written(
        self,
        state: dict | None,
        written: dict[str, int],
        version: int,
        touched: list[int] | None,
        batch_id: int | None,
        schema_json: str,
    ) -> None:
        """Bucket-map bookkeeping + pointer commit for segments already
        written into ``version``. ``touched`` None means the append path
        (segment lists grow, overflow compacts); a first commit
        (``state`` None) is an append to an empty map. Otherwise the
        touched buckets' lists are replaced."""
        buckets = (
            {} if state is None
            else {b: list(v) for b, v in state["buckets"].items()}
        )
        if touched is None:
            # Append path: caller guarantees batch keys are not in the
            # store, so no read, no rewrite — new segments only. Buckets
            # whose segment list overflows max_segments are folded into
            # one segment (amortized: each row is rewritten once per
            # max_segments appends).
            for b in written:
                buckets.setdefault(b, []).append(version)
            version, buckets = self._compact_overflow(
                buckets, version, schema_json
            )
        else:
            for b in touched:
                buckets.pop(str(b), None)  # emptied buckets leave the map
            for b in written:
                buckets[b] = [version]  # compacted: one segment again
        self._commit(buckets, version, batch_id, schema_json)

    def _plan_merge(
        self,
        batch: DataFrame,
        combine: Callable[[DataFrame, DataFrame], DataFrame] | None,
        batch_id: int | None,
        insert_only: bool,
        touch_keys: DataFrame | None,
        touched_buckets: list[int] | None,
    ) -> tuple[dict | None, DataFrame, list[int] | None] | None:
        """Everything a merge does BEFORE its write job: batch-id
        screening and new-data construction. Returns ``(state, new_data,
        touched)`` (``touched`` is None on append/first-commit paths), or
        None when the batch id is already applied."""
        if insert_only and (combine is not None or touch_keys is not None):
            raise ValueError("insert_only excludes combine/touch_keys")
        if batch_id is not None:
            last = self.last_batch_id()
            if last is not None and batch_id <= last:
                return None
        state = self._state()
        if state is None:
            return state, batch, None
        if insert_only:
            self._refuse_dropped_columns(state, batch)
            return state, batch, None
        if touched_buckets is not None:
            # A caller-supplied subset would silently drop stale bucket
            # rows from the map. Only the shape is checked here; the
            # caller guarantees the set (see merge's docstring).
            if touched_buckets != sorted(touched_buckets) or not all(
                isinstance(b, int) and 0 <= b < self.n_buckets
                for b in touched_buckets
            ):
                raise ValueError("touched_buckets must be sorted bucket ints")
            touched = touched_buckets
        else:
            keyed = batch.select(*self.key_cols)
            if touch_keys is not None:
                keyed = keyed.unionByName(touch_keys.select(*self.key_cols))
            touched = self._touched_buckets(keyed)
        cur = self._touched_current(state, touched)
        if cur is None:
            new_data = batch
        elif combine is not None:
            new_data = combine(cur, batch)
        else:
            kept = cur.join(
                F.broadcast(batch.select(*self.key_cols).distinct()),
                on=self.key_cols,
                how="left_anti",
            )
            new_data = kept.unionByName(batch)
        self._refuse_dropped_columns(state, new_data)
        return state, new_data, touched

    def _refuse_dropped_columns(self, state: dict, new_data: DataFrame) -> None:
        """Reads clip every segment to the LAST commit's schema, so a
        commit without a column the previous commit recorded would
        silently drop that column from all older segments too."""
        if "schema" not in state:
            return
        recorded = [f["name"] for f in json.loads(state["schema"])["fields"]]
        missing = [c for c in recorded if c not in new_data.columns]
        if missing:
            raise ValueError(
                f"store {self.root}: new data drops recorded columns "
                f"{missing}; refusing the commit"
            )

    def delete(self, keys: DataFrame, batch_id: int | None = None) -> None:
        """Drop matching keys, rewriting only their buckets."""
        if batch_id is not None:
            last = self.last_batch_id()
            if last is not None and batch_id <= last:
                return
        state = self._state()
        if state is None:
            return
        touched = self._touched_buckets(keys.select(*self.key_cols))
        cur = self._touched_current(state, touched)
        if cur is None:
            return
        remaining = cur.join(
            F.broadcast(keys.distinct()), on=self.key_cols, how="left_anti"
        )
        version = state["version"] + 1
        (written,) = _write_segments([(self, remaining, version)])
        self._commit_written(
            state, written, version, touched, batch_id, remaining.schema.json()
        )


def _write_segments(
    parts: Sequence[tuple[BucketedParquetUpsertStore, DataFrame, int]],
) -> list[dict[str, int]]:
    """The one segment writer of the bucketed store: every merge,
    delete, compaction and :func:`merge_many` call writes through it.

    Each ``(store, rows, version)`` part is tagged with its index and
    its rows' key bucket; the parts are unioned into ONE frame (columns
    missing from a part padded with typed nulls — parquet null columns
    cost only the definition levels), written by ONE Spark job
    partitioned by ``(_store, _bucket)`` into a per-call temp dir in the
    first store's root, and each bucket dir is then renamed into its
    store's version dir. Returns, per part, the ``bucket -> version``
    entries of the buckets that got rows; committing them is the
    caller's step.

    The repartition clusters rows by bucket BEFORE the partitioned
    write, so each touched bucket gets ~1 file instead of (upstream
    tasks x buckets) — without it a 32-task micro-batch writing 16
    buckets creates up to 512 files per version, and the per-file
    open/commit cost dominates streaming replay (sf0.1 near-dedup: 1116
    files -> 100, bench-style min 10.2s -> 6.7s on the same container).
    This is exactly Delta's optimized-write / AQE-coalesce behavior: one
    small shuffle of batch-sized data buys bounded file counts, which at
    100 TB is the difference between a healthy table and millions of
    KB-sized files. Write parallelism equals the stores' summed
    n_buckets, which is sized to the state (thousands of buckets on a
    real cluster), so clustering caps files without capping cores.
    """
    # Superset schema: first-appearance column order; shared names must
    # agree on type (same-name columns land in the same parquet column).
    fields: dict[str, object] = {}
    for _, rows, _ in parts:
        for f in rows.schema.fields:
            if f.name in fields:
                if fields[f.name].simpleString() != f.dataType.simpleString():
                    raise ValueError(
                        f"merge_many: column {f.name!r} has conflicting types "
                        f"{fields[f.name].simpleString()} vs "
                        f"{f.dataType.simpleString()}"
                    )
            else:
                fields[f.name] = f.dataType
    names = list(fields)
    tagged = None
    for i, (store, rows, _) in enumerate(parts):
        present = set(rows.columns)
        part = rows.select(
            F.lit(i).alias("_store"),
            store._bucket_col().alias("_bucket"),
            *[
                F.col(n) if n in present else F.lit(None).cast(fields[n]).alias(n)
                for n in names
            ],
        )
        tagged = part if tagged is None else tagged.unionByName(part)

    tmp = os.path.join(
        parts[0][0].root, f"_write.tmp.{os.getpid()}.{uuid.uuid4().hex}"
    )
    try:
        (
            tagged.repartition(
                sum(store.n_buckets for store, _, _ in parts),
                F.col("_store"),
                F.col("_bucket"),
            )
            .write.mode("overwrite")
            .partitionBy("_store", "_bucket")
            .parquet(tmp)
        )
        out = []
        for i, (store, _, version) in enumerate(parts):
            vpath = store._version_path(version)
            # A crash after an earlier attempt's renames left this
            # version dir behind; it is above the pointer, so nothing
            # reads it, and renaming buckets into it would fail.
            shutil.rmtree(vpath, ignore_errors=True)
            os.makedirs(vpath)
            written: dict[str, int] = {}
            src = os.path.join(tmp, f"_store={i}")
            if os.path.isdir(src):
                for name in os.listdir(src):
                    if name.startswith("_bucket="):
                        os.rename(
                            os.path.join(src, name), os.path.join(vpath, name)
                        )
                        written[name.split("=", 1)[1]] = version
            out.append(written)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def merge_many(merges: Sequence[dict]) -> None:
    """Apply several INDEPENDENT stores' micro-batch merges with ONE
    Spark write job and one pointer commit per store.

    A ``foreachBatch`` sink that maintains K bucketed stores pays K
    write jobs per micro-batch even when the jobs are overlapped from a
    thread pool (guide §2.6) — each job still schedules, shuffles and
    commits on its own. Here every store plans its merge, the planned
    ``new_data`` relations go through the store's one segment writer
    (:func:`_write_segments`) together, and every store then runs the
    same bucket-map bookkeeping and atomic pointer swap
    (``_commit_written``) a single merge runs —
    :meth:`BucketedParquetUpsertStore.merge` is this function with one
    entry. Reads clip shared-file segments back to the store's own
    columns via the schema recorded in the commit (see
    ``_read_segments``).

    Each entry is a dict of :meth:`BucketedParquetUpsertStore.merge`
    kwargs plus the store itself::

        merge_many([
            {"store": out,  "batch": accepted, "batch_id": bid,
             "insert_only": True},
            {"store": band, "batch": band_agg, "batch_id": bid,
             "combine": union_ids, "touched_buckets": touched},
        ])

    Semantics are identical to calling the merges sequentially:
    batch-id fencing stays per store (a replayed batch re-runs only the
    stores that had not committed), commit order is irrelevant because
    the stores are independent by contract (separate roots — checked).
    Columns shared by several stores must agree on type.
    """
    plans = []
    for m in merges:
        store: BucketedParquetUpsertStore = m["store"]
        planned = store._plan_merge(
            m["batch"],
            m.get("combine"),
            m.get("batch_id"),
            m.get("insert_only", False),
            m.get("touch_keys"),
            m.get("touched_buckets"),
        )
        if planned is not None:
            state, new_data, touched = planned
            version = 0 if state is None else state["version"] + 1
            plans.append(
                (store, state, new_data, touched, m.get("batch_id"), version)
            )
    if not plans:
        return
    roots = [p[0].root for p in plans]
    if len(set(roots)) != len(roots):
        raise ValueError("merge_many requires distinct stores")
    written = _write_segments(
        [(store, new_data, version) for store, _, new_data, _, _, version in plans]
    )
    for (store, state, new_data, touched, batch_id, version), w in zip(
        plans, written
    ):
        store._commit_written(
            state, w, version, touched, batch_id, new_data.schema.json()
        )


_MONOID_OPS = ("sum", "min", "max", "union")


def monoid_combine(
    keys: Sequence[str], ops: Mapping[str, str]
) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """The ``combine`` for state whose every value column folds with a
    commutative, associative op: a full-outer join of the stored and
    batch rows by ``keys``, then per column of ``ops``

    - ``"sum"``: ``coalesce(old, 0) + coalesce(new, 0)``, the zero cast
      to the batch column's type (a ``decimal(38,0)`` sum stays
      ``decimal(38,0)``);
    - ``"min"`` / ``"max"``: ``least`` / ``greatest``, which skip a
      NULL side;
    - ``"union"``: array set-union, old elements first
      (``array_distinct(concat(old, new))``, NULL side as empty).

    Such state is the same for any batch split, replay or merge order,
    so the streamed state equals the batch aggregate. The output keeps
    ``keys`` then the ``ops`` columns, in that order; columns not in
    either are dropped.
    """
    keys = list(keys)
    bad = sorted(set(ops.values()) - set(_MONOID_OPS))
    if bad:
        raise ValueError(f"monoid_combine: unknown ops {bad}; use {_MONOID_OPS}")

    def combine(cur: DataFrame, batch: DataFrame) -> DataFrame:
        types = {f.name: f.dataType for f in batch.schema.fields}
        joined = cur.select(
            *keys, *[F.col(c).alias(f"_o_{c}") for c in ops]
        ).join(
            batch.select(*keys, *[F.col(c).alias(f"_n_{c}") for c in ops]),
            keys,
            "full_outer",
        )
        folded = []
        for c, op in ops.items():
            old, new = F.col(f"_o_{c}"), F.col(f"_n_{c}")
            if op == "min":
                value = F.least(old, new)
            elif op == "max":
                value = F.greatest(old, new)
            else:
                zero = (F.lit(0) if op == "sum" else F.array()).cast(types[c])
                old, new = F.coalesce(old, zero), F.coalesce(new, zero)
                value = old + new if op == "sum" else F.array_distinct(
                    F.concat(old, new)
                )
            folded.append(value.alias(c))
        return joined.select(*keys, *folded)

    return combine
