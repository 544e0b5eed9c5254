"""Measurement plumbing shared by the workloads: streaming progress,
process-tree CPU and memory from ``/proc``, spans, and the Spark event
log. Nothing here changes what the program does; the span patches are
installed only for a traced run."""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[min(len(s) - 1, max(0, int(-(-q * len(s) // 100)) - 1))])


# -- streaming progress ---------------------------------------------------
class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch's ``StreamingQueryProgress`` as a dict.

    Listener events arrive asynchronously; ``settle`` waits until every
    started query has also reported termination, which the bus delivers
    after that query's last progress."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        row = {
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "start_ms": _iso_ms(p.timestamp),
            "source": p.sources[0].description if p.sources else "",
            "ms": dict(p.durationMs),
        }
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def settle(self, queries: int, timeout_s: float = 15.0) -> None:
        deadline = time.time() + timeout_s
        while self.terminated < queries:
            if time.time() > deadline:
                raise RuntimeError(
                    f"listener saw {self.terminated} of {queries} query ends"
                )
            time.sleep(0.01)

    def batches(self, since: int = 0) -> list[dict]:
        """Progress rows that processed data, from index ``since``."""
        with self._lock:
            return [r for r in self.progress[since:] if r["rows"] > 0]


def _iso_ms(stamp: str) -> int:
    from datetime import datetime, timezone

    dt = datetime.strptime(stamp.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


# -- process tree ---------------------------------------------------------
def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat(pid)
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of this process and every descendant (JVM, Python
    workers), including reaped children, from ``/proc/<pid>/stat``."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        f = _stat(str(pid))
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


class RssPeak:
    """Samples the summed resident memory of the descendants of this
    process (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = 0
        for pid in tree_pids(me):
            if pid == me:
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            except OSError:
                pass
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> RssPeak:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# -- spans ----------------------------------------------------------------
class Tracer:
    """In-memory spans ``(name, start_s, end_s, attrs)``; off unless
    enabled, so untraced runs pay one attribute check per call site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, dict]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t0 = time.time()
        try:
            yield attrs
        finally:
            self.spans.append((name, t0, time.time(), attrs))

    def durations(self, name: str, t0: float = 0.0, t1: float = float("inf")):
        return [e - s for n, s, e, _ in self.spans if n == name and t0 <= s < t1]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for name, s, e, attrs in self.spans:
                fh.write(json.dumps({"name": name, "start": s, "end": e, **attrs}))
                fh.write("\n")


def _wrap(tracer: Tracer, name: str, fn, on_exit=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as attrs:
            out = fn(*args, **kwargs)
            if on_exit is not None:
                on_exit(attrs, *args)
            return out

    return wrapper


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with contextlib.suppress(OSError):
                out[p] = os.path.getsize(p)
    return out


@contextlib.contextmanager
def program_spans(tracer: Tracer):
    """Span the program's store and dispatcher calls for a traced run:
    ``BucketedParquetUpsertStore`` writes and reads, and
    ``synchronize_batch`` where ``synchronize_docs`` binds it."""
    from m4i_flink_tasks_spark.streaming import synchronize_docs
    from m4i_flink_tasks_spark.streaming.store import BucketedParquetUpsertStore

    store_cls = BucketedParquetUpsertStore
    # The read methods return lazy frames, so a ``store.read`` span is
    # snapshot planning: reading ``_CURRENT`` and listing the segment
    # files, plus ``current_for_keys``' touched-bucket job. The scan runs
    # later, in the caller's ``collect``.
    reads = ("current", "current_for_keys", "current_for_buckets", "read_version")
    saved = {name: getattr(store_cls, name) for name in ("merge", *reads)}
    saved_dispatch = synchronize_docs.synchronize_batch

    def merge(self, *args, **kwargs):
        before = _files(self.root)
        with tracer.span("store.merge") as attrs:
            saved["merge"](self, *args, **kwargs)
        new = {p: b for p, b in _files(self.root).items() if p not in before}
        written = [p for p in new if p.endswith(".parquet")]
        attrs.update(files=len(written), bytes=sum(new[p] for p in written))

    store_cls.merge = merge
    for name in reads:
        setattr(store_cls, name, _wrap(tracer, "store.read", saved[name]))
    synchronize_docs.synchronize_batch = _wrap(
        tracer, "synchronize_plan.build", saved_dispatch
    )
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(store_cls, name, fn)
        synchronize_docs.synchronize_batch = saved_dispatch


# -- event log ------------------------------------------------------------
_KEEP = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerTaskEnd"',
)


def read_event_log(log_dir: str, t0_ms: int, t1_ms: int) -> tuple[list[dict], list[dict]]:
    """Jobs submitted inside ``[t0_ms, t1_ms)`` and their tasks, from
    the uncompressed, non-rolling Spark event log files in ``log_dir``.
    Only job and task events are decoded; plan-carrying SQL events are
    skipped by prefix, which keeps a large log cheap to scan."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if not line.startswith(_KEEP):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"],
                        "end": None,
                        "query_id": props.get("sql.streaming.queryId"),
                        "batch_id": props.get("streaming.sql.batchId"),
                    }
                    for s in ev["Stage IDs"]:
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                else:
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    info = ev["Task Info"]
                    tasks.append(
                        {
                            "job": stage_job.get(ev["Stage ID"]),
                            "stage": ev["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "spill": m.get("Disk Bytes Spilled", 0),
                            "shuffle_r": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "launch": info["Launch Time"],
                        }
                    )
    kept = [j for j in jobs.values() if t0_ms <= j["submit"] < t1_ms and j["end"]]
    ids = {j["id"] for j in kept}
    return kept, [t for t in tasks if t["job"] in ids]


def busy_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
