"""One benchmark run, in-process: set up, measure, check, report.

Started by ``run.py``, which pins the host settings, owns the process
tree and prints the result line. Run directly only for debugging::

    python3 perfbench/worker.py --workload chain_small_batches --seed 1 \
        --seconds 1 --trace 0 --run-dir .perfbench/runs/dbg \
        --result .perfbench/runs/dbg/result.json

Workloads (inputs from ``gen.py``; load is one driver process, one
client thread, on ``local[nproc]``):

- ``chain_small_batches``: one live-tail slice through jobs
  1 -> {2, 3, 4}, chained the way ``streaming/chained.py`` chains them:
  the pipeline's first slice, measured cold.
- ``store_lookups``: a closed loop of one client over three
  ``BucketedParquetUpsertStore`` stores that set-up builds from
  slices through the store's own write API.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import probes  # noqa: E402
from probes import pct  # noqa: E402

from m4i_flink_tasks_spark.session import get_spark  # noqa: E402
from m4i_flink_tasks_spark.streaming.sources import EVENT_STREAM_SCHEMA  # noqa: E402

# Zipf 0 and no unknown guids: the sf0.1 events spread uniformly over
# users that all exist in customer (see README.md, "Traffic").
WORKLOADS = {
    # One slice, measured cold: a warm-up through job 4 would cost as
    # much as the slice itself, which the run budget cannot carry.
    "chain_small_batches": gen.Params(
        guids=1500, slices=1, events_per_slice=150, zipf=0.0,
        unknown_share=0.0, bootstrap=False,
    ),
    # The bootstrap gives every guid a version for the reads to find.
    "store_lookups": gen.Params(
        guids=1500, slices=2, events_per_slice=400, zipf=0.0,
        unknown_share=0.0, bootstrap=True,
    ),
}
# Job 4 seeds a doc for every user in the events table, so the chain's
# oracle agrees only when the table holds just the one slice it runs.
# A few unknown guids put rows on the dead-letter surfaces the check
# compares.
SMOKE = {
    "chain_small_batches": gen.Params(
        guids=60, slices=1, events_per_slice=40, zipf=0.0,
        unknown_share=0.05, bootstrap=False,
    ),
    "store_lookups": gen.Params(
        guids=60, slices=1, events_per_slice=40, zipf=0.0,
        unknown_share=0.05, bootstrap=True,
    ),
}
JOBS = (
    ("job1", "get_entity"),
    ("job2", "publish_state"),
    ("job3", "determine_change"),
    ("job4", "synchronize_docs"),
)
LOOKUP_KINDS = ("latest", "as_of", "doc_get", "doc_multi_get", "descendants", "history")
# The store reads one live-tail event costs in the reference, by the
# job-4 branch its guid takes (``user_id % 4``, streaming/synchronize_docs.py:
# create, attribute audit, re-parent, orphan). Job 3 issues a top-1
# prior-version query (determine_change_job.py:223) and an audit-trail
# fetch (:88) per event. Job 4 gets the entity's doc; its rename,
# re-parent and orphan handlers walk the descendants, and re-parenting
# multi-gets the new parent's ancestry.
EVENT_READS = (
    ("latest", "history", "doc_get"),
    ("latest", "history", "doc_get", "descendants"),
    ("latest", "history", "doc_get", "doc_multi_get", "descendants"),
    ("latest", "history", "doc_get", "descendants"),
)
MB = 1e6


def start_session(run_dir: str, trace: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def generate(run_dir: str, params: gen.Params, seed: int) -> tuple[gen.Inputs, float]:
    """The run's inputs and the time it took to generate them."""
    t0 = time.perf_counter()
    inputs = gen.generate(os.path.join(run_dir, "input"), params, seed)
    return inputs, time.perf_counter() - t0


def check_deterministic(run_dir: str, params: gen.Params, seed: int) -> None:
    """Generate the inputs twice and require identical bytes: the seed
    alone fixes them."""
    digests = set()
    for rep in range(2):
        out = os.path.join(run_dir, f"det{rep}")
        gen.generate(out, params, seed)
        digests.add(_digest(out))
        shutil.rmtree(out)
    if len(digests) != 1:
        raise RuntimeError("generator is not deterministic for one seed")


def _digest(root: str) -> str:
    import hashlib

    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "*", "*.parquet"))):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _place(src: str, staging_dir: str) -> None:
    """Drop the slice into a staging 'topic'."""
    shutil.copyfile(src, os.path.join(staging_dir, "part-00000.parquet"))


def store_roots(root: str) -> list[str]:
    return sorted(
        os.path.dirname(p) for p in glob.glob(os.path.join(root, "**", "_CURRENT"), recursive=True)
    )


def _bytes_under(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(root) for n in names
    )


def _segments(store_root: str) -> int:
    with open(os.path.join(store_root, "_CURRENT"), encoding="utf-8") as fh:
        state = json.load(fh)
    return max((len(v) for v in state["buckets"].values()), default=0)


def _current_files(store_root: str) -> list[str]:
    with open(os.path.join(store_root, "_CURRENT"), encoding="utf-8") as fh:
        state = json.load(fh)
    return sorted(
        f
        for b, versions in state["buckets"].items()
        for v in versions
        for f in glob.glob(os.path.join(store_root, f"v{v:06d}", f"_bucket={b}", "*.parquet"))
    )


# -- chain_small_batches -----------------------------------------------------
class Chain:
    def __init__(self, spark, inputs: gen.Inputs, workdir: str, tracer, progress):
        self.spark, self.inputs, self.wd = spark, inputs, workdir
        self.tracer, self.progress = tracer, progress
        self.queries = 0
        self.outputs: dict = {}
        for job, _ in JOBS:
            staging = os.path.join(workdir, job, "staging_events")
            os.makedirs(staging, exist_ok=True)
            # The runners' idempotent-staging contract: a staged topic
            # is used as is.
            open(os.path.join(staging, "_SUCCESS"), "w").close()

    def _staging(self, job: str) -> str:
        return os.path.join(self.wd, job, "staging_events")

    def _run(self, label: str, fn, job: str):
        with self.tracer.span(f"{label}.run"):
            out = fn(
                self.spark, self.inputs.table_dir, os.path.join(self.wd, job),
                n_files=1, max_files_per_trigger=1,
            )
        self.queries += 1
        return out

    def cycle(self) -> tuple[float, list[dict]]:
        """Push the slice through jobs 1 -> {2, 3, 4}; return the wall
        time and the slice's micro-batch progress rows."""
        from m4i_flink_tasks_spark.streaming.determine_change import (
            run_determine_change_entities,
        )
        from m4i_flink_tasks_spark.streaming.get_entity import run_get_entity
        from m4i_flink_tasks_spark.streaming.publish_state import run_publish_state
        from m4i_flink_tasks_spark.streaming.synchronize_docs import (
            run_synchronize_appsearch,
        )

        (src,) = self.inputs.slice_files
        t0 = time.perf_counter()
        with self.tracer.span("sources.stage"):
            _place(src, self._staging("job1"))
        enriched, dead1 = self._run("get_entity", run_get_entity, "job1")
        with self.tracer.span("sources.stage"):
            self._stage_feed(src, enriched)
        state, dead2 = self._run("publish_state", run_publish_state, "job2")
        diffs = self._run("determine_change", run_determine_change_entities, "job3")
        docs = self._run("synchronize_docs", run_synchronize_appsearch, "job4")
        wall = time.perf_counter() - t0
        self.outputs = dict(
            enriched=enriched, dead_get_entity=dead1, entity_state=state,
            dead_publish_state=dead2, diffs=diffs, docs=docs,
        )
        self.progress.settle(self.queries)
        return wall, self.progress.batches()

    def _stage_feed(self, src: str, enriched) -> None:
        """The chain adapter of ``streaming/chained.py``: the slice
        semi-joined to job 1's accepted ids is the downstream topic."""
        tmp = os.path.join(self.wd, "feed_tmp")
        (
            self.spark.read.schema(EVENT_STREAM_SCHEMA)
            .parquet(src)
            .join(enriched.select("event_id"), "event_id", "left_semi")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        for job in ("job2", "job3", "job4"):
            _place(part, self._staging(job))

    def check(self) -> list[str]:
        """Every terminal surface (row count, order-independent
        checksum) against the ``stream_chained_topology`` DuckDB oracle
        over the generated tables."""
        import duckdb

        from m4i_flink_tasks_spark.queries import all_oracles, all_queries
        from m4i_flink_tasks_spark.streaming import chained

        tables = self.inputs.table_dir
        saved = chained.run_chained_pipeline
        chained.run_chained_pipeline = lambda *_: self.outputs
        try:
            got = all_queries()["stream_chained_topology"](self.spark, tables).collect()
        finally:
            chained.run_chained_pipeline = saved
        con = duckdb.connect()
        try:
            for t in ("events", "customer"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')"
                )
            want = con.execute(all_oracles()["stream_chained_topology"]).fetchall()
        finally:
            con.close()
        # Rows and checksum per surface. The report's violation column
        # is left out: it flags seeded docs of guids with no accepted
        # event, which unknown entities (dead letters) legitimately are.
        got_rows = {r["surface"]: (int(r["n_rows"]), int(r["content_checksum"])) for r in got}
        want_rows = {r[0]: (int(r[1]), int(r[2])) for r in want}
        return [
            f"{s}: program {got_rows.get(s)} oracle {want_rows.get(s)}"
            for s in sorted(set(got_rows) | set(want_rows))
            if got_rows.get(s) != want_rows.get(s)
        ]


def run_chain(spark, inputs, run_dir, tracer, progress) -> dict:
    chain = Chain(spark, inputs, os.path.join(run_dir, "chain"), tracer, progress)
    cpu0, t0 = probes.tree_cpu_s(), time.time()
    with probes.RssPeak() as rss:
        wall, batches = chain.cycle()
    t1 = time.time()
    cpu = probes.tree_cpu_s() - cpu0

    (events,) = inputs.slice_events
    slice_ms = sum(b["ms"].get("triggerExecution", 0) for b in batches)
    mismatches = chain.check()
    for m in mismatches:
        print(f"MISMATCH {m}", file=sys.stderr)
    return {
        "setup_extra_s": 0.0,
        "window": (t0, t1),
        "attempted": len(batches),
        "failed": len(mismatches),
        "ops_per_s": events / wall,
        "latency_ms": [slice_ms],
        "cpu_ms_per_op": 1000 * cpu / events,
        "cpu_s": cpu,
        "store_roots": store_roots(chain.wd),
        "peak_rss_mb": rss.peak_bytes / MB,
        "batches": batches,
        "lookup_ms": {},
        "summary": {
            "events_per_s": ("1/s", events / wall),
            "slice_ms_p50": ("ms", slice_ms),
            "cpu_s_per_kevent": ("s", 1000 * cpu / events),
            "events_measured": ("count", events),
        },
    }


# -- store_lookups ------------------------------------------------------------
class Lookups:
    def __init__(self, spark, inputs: gen.Inputs, root: str, seed: int):
        from m4i_flink_tasks_spark.streaming.store import BucketedParquetUpsertStore

        self.spark, self.inputs = spark, inputs
        self.rng = np.random.default_rng(seed + 1)
        self.roots = {n: os.path.join(root, n) for n in ("entity_state", "entity_versions", "docs")}
        self.state = BucketedParquetUpsertStore(spark, self.roots["entity_state"], ["doc_id"])
        self.versions = BucketedParquetUpsertStore(spark, self.roots["entity_versions"], ["event_id"])
        self.docs = BucketedParquetUpsertStore(spark, self.roots["docs"], ["guid"])
        self.guids = np.arange(len(inputs.guid_weights))
        # The write skew within each job-4 branch, for drawing an event's guid.
        self.branch_weights = []
        for b in range(len(EVENT_READS)):
            w = np.where(self.guids % len(EVENT_READS) == b, inputs.guid_weights, 0.0)
            self.branch_weights.append(w / w.sum())
        self.ts_lo = gen.T0_MS

    def build(self) -> None:
        """``entity_versions`` gets one append per slice, the way job 3
        appends its entity view, so each bucket carries one segment per
        slice. ``entity_state`` (job 2's versioned doc-id store) and
        ``docs`` (an App Search doc tree) are upsert stores, whose every
        merge leaves one segment per touched bucket, so one load each
        gives them their read shape."""
        from pyspark.sql import functions as F

        from m4i_flink_tasks_spark.streaming.determine_change import entity_view
        from m4i_flink_tasks_spark.streaming.publish_state import entity_state_rows

        files = self.inputs.slice_files
        for i, path in enumerate(files):
            batch = self.spark.read.schema(EVENT_STREAM_SCHEMA).parquet(path)
            self.versions.merge(entity_view(batch), batch_id=i, insert_only=True)
        events = self.spark.read.schema(EVENT_STREAM_SCHEMA).parquet(*files)
        self.state.merge(entity_state_rows(events), batch_id=0)
        self.docs.merge(self.spark.createDataFrame(_doc_tree(len(self.guids))), batch_id=0)
        self.ts_hi = int(events.agg(F.max("ts_ms")).first()[0])

    def _guid(self, weights=None) -> int:
        p = self.inputs.guid_weights if weights is None else weights
        return int(self.rng.choice(self.guids, p=p))

    def cycle(self) -> list[tuple[str, object]]:
        """One cycle of the closed loop: the reads of one event per
        job-4 branch, its guid drawn at the write skew, then one
        version-as-of read of a guid at a uniform time, which the
        reference never issues but the store offers."""
        reqs: list[tuple[str, object]] = []
        for reads, weights in zip(EVENT_READS, self.branch_weights):
            g = self._guid(weights)
            for kind in reads:
                if kind in ("latest", "history"):
                    reqs.append((kind, g))
                elif kind == "doc_multi_get":
                    reqs.append((kind, _ancestry(self._guid())))
                else:
                    reqs.append((kind, f"E{g}"))
        at = int(self.rng.integers(self.ts_lo, self.ts_hi))
        reqs.append(("as_of", (self._guid(), at)))
        return reqs

    def lookup(self, kind: str, key) -> list[tuple]:
        from pyspark.sql import functions as F

        from m4i_flink_tasks_spark.operators.local_frame import local_frame

        if kind in ("latest", "as_of"):
            df = self.state.current().filter(F.col("guid") == (key[0] if kind == "as_of" else key))
            if kind == "as_of":
                df = df.filter(F.col("update_time_ms") < key[1])
            rows = (
                df.orderBy(F.desc("update_time_ms"), F.desc("event_id"))
                .limit(1)
                .select("doc_id", "update_time_ms", "event_id")
                .collect()
            )
        elif kind in ("doc_get", "doc_multi_get"):
            keys = [key] if kind == "doc_get" else list(key)
            found = self.docs.current_for_keys(
                local_frame(self.spark, [(k,) for k in keys], "guid string")
            )
            rows = found.filter(F.col("guid").isin(keys)).select("guid", "name", "parentguid").collect()
        elif kind == "descendants":
            rows = (
                self.docs.current()
                .filter(F.array_contains("breadcrumbguid", key))
                .select("guid")
                .collect()
            )
        else:
            rows = (
                self.versions.current()
                .filter(F.col("user_id") == key)
                .select("event_id", "ts_ms", F.size("attrs"))
                .orderBy("ts_ms", "event_id")
                .collect()
            )
        out = [tuple(r) for r in rows]
        return out if kind in ("latest", "as_of", "history") else sorted(out)

    def check(self, samples: list[tuple]) -> list[str]:
        """Every answer against DuckDB over the same store files."""
        import duckdb

        sql = {
            "latest": "SELECT doc_id, update_time_ms, event_id FROM entity_state "
            "WHERE guid = $1 ORDER BY update_time_ms DESC, event_id DESC LIMIT 1",
            "as_of": "SELECT doc_id, update_time_ms, event_id FROM entity_state "
            "WHERE guid = $1 AND update_time_ms < $2 "
            "ORDER BY update_time_ms DESC, event_id DESC LIMIT 1",
            "doc_get": "SELECT guid, name, parentguid FROM docs WHERE guid = $1",
            "doc_multi_get": "SELECT guid, name, parentguid FROM docs "
            "WHERE list_contains($1, guid)",
            "descendants": "SELECT guid FROM docs WHERE list_contains(breadcrumbguid, $1)",
            "history": "SELECT event_id, ts_ms, cardinality(attrs) FROM entity_versions "
            "WHERE user_id = $1 ORDER BY ts_ms, event_id",
        }
        con = duckdb.connect()
        bad = []
        try:
            for name, root in self.roots.items():
                files = ", ".join(f"'{f}'" for f in _current_files(root))
                con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet([{files}])")
            for kind, key, answer in samples:
                args = list(key) if kind == "as_of" else [list(key) if kind == "doc_multi_get" else key]
                want = [tuple(r) for r in con.execute(sql[kind], args).fetchall()]
                if kind not in ("latest", "as_of", "history"):
                    want = sorted(want)
                if want != answer:
                    bad.append(f"{kind}({key}): program {answer} oracle {want}")
        finally:
            con.close()
        return bad


def _doc_tree(n: int):
    """App Search docs for guids ``E0..E{n-1}`` under domains
    ``D0..D9``: the parent of ``E{g}`` is ``D{g}`` for g < 10, else
    ``E{g // 10}``, so breadcrumbs run up to four levels deep."""
    import pandas as pd

    rows = [(f"D{d}", "m4i_data_domain", f"Domain{d}", None, [], [], []) for d in range(10)]
    chain: dict[int, list[int]] = {}
    for g in range(n):
        chain[g] = [] if g < 10 else chain[g // 10] + [g // 10]
        root = g if g < 10 else chain[g][0]
        crumbs = [f"D{root}"] + [f"E{a}" for a in chain[g]]
        rows.append(
            (
                f"E{g}", "m4i_data_entity", f"Seed{g}", crumbs[-1], crumbs,
                [f"Domain{root}"] + [f"Seed{a}" for a in chain[g]],
                ["m4i_data_domain"] + ["m4i_data_entity"] * len(chain[g]),
            )
        )
    cols = ["guid", "typename", "name", "parentguid", "breadcrumbguid", "breadcrumbname", "breadcrumbtype"]
    return pd.DataFrame(rows, columns=cols)


def _ancestry(g: int) -> tuple[str, ...]:
    """The doc of ``E{g}`` and its breadcrumb in ``_doc_tree``, sorted."""
    out = [f"E{g}"]
    while g >= 10:
        g //= 10
        out.append(f"E{g}")
    out.append(f"D{g}")
    return tuple(sorted(out))


def run_lookups(spark, inputs, run_dir, seconds, seed, tracer) -> dict:
    lk = Lookups(spark, inputs, os.path.join(run_dir, "stores"), seed)
    t_setup = time.perf_counter()
    lk.build()
    # One untimed cycle warms every read path. One lookup of each kind
    # left JIT work in the window: CPU per lookup rose by a fifth and
    # spread twice as far.
    for kind, key in lk.cycle():
        lk.lookup(kind, key)
    setup_s = time.perf_counter() - t_setup

    samples, failed = [], 0
    lat = {k: [] for k in LOOKUP_KINDS}
    cpu_ms = {k: [] for k in LOOKUP_KINDS}
    cpu0, t0 = probes.tree_cpu_s(), time.time()
    n = 0
    with probes.RssPeak() as rss:
        # Whole cycles only, so every run's sample has the same mix.
        while n == 0 or time.time() - t0 < seconds:
            for kind, key in lk.cycle():
                n += 1
                c = probes.tree_cpu_s()
                s = time.perf_counter()
                try:
                    with tracer.span("lookup", kind=kind):
                        answer = lk.lookup(kind, key)
                except Exception as exc:
                    print(f"lookup {kind}({key}) failed: {exc!r}", file=sys.stderr)
                    failed += 1
                    continue
                lat[kind].append(1000 * (time.perf_counter() - s))
                cpu_ms[kind].append(1000 * (probes.tree_cpu_s() - c))
                samples.append((kind, key, answer))
    t1 = time.time()
    cpu = probes.tree_cpu_s() - cpu0
    # CPU per lookup of the mix from each kind's median: a JIT or GC
    # burst that lands on one lookup moves it no more than any other.
    cpu_per_op = (
        statistics.mean(statistics.median(cpu_ms[k]) for k, _, _ in samples) if samples else 0.0
    )

    mismatches = lk.check(samples)
    for m in mismatches[:20]:
        print(f"MISMATCH {m}", file=sys.stderr)
    all_ms = [x for v in lat.values() for x in v]
    return {
        "setup_extra_s": setup_s,
        "window": (t0, t1),
        "attempted": n,
        "failed": failed + len(mismatches),
        "ops_per_s": len(samples) / (t1 - t0),
        "latency_ms": all_ms,
        "cpu_ms_per_op": cpu_per_op,
        "cpu_s": cpu,
        "store_roots": list(lk.roots.values()),
        "peak_rss_mb": rss.peak_bytes / MB,
        "batches": [],
        "lookup_ms": lat,
        "summary": {
            "lookups_per_s": ("1/s", len(samples) / (t1 - t0)),
            "lookup_ms_p50": ("ms", pct(all_ms, 50)),
            "lookup_ms_p90": ("ms", pct(all_ms, 90)),
            "cpu_ms_per_lookup": ("ms", 1000 * cpu / n),
            "lookups_measured": ("count", n),
        },
    }


# -- per-layer metrics (traced run) -------------------------------------------
def layer_metrics(res: dict, tracer, jobs: list[dict], tasks: list[dict]) -> dict:
    t0, t1 = res["window"]
    m: dict[str, tuple[str, float]] = {}
    batches = res["batches"]
    tasks_by_job: dict[int, list[dict]] = {}
    for t in tasks:
        tasks_by_job.setdefault(t["job"], []).append(t)

    for job, label in JOBS:
        mine = [b for b in batches if f"/{job}/staging_events" in b["source"]]
        qids = {b["query_id"] for b in mine}
        qjobs = [j for j in jobs if j["query_id"] in qids]
        trig = sum(b["ms"].get("triggerExecution", 0) for b in mine)
        busy = probes.busy_ms((j["submit"], j["end"]) for j in qjobs)
        m[f"{label}.run_s"] = ("s", sum(tracer.durations(f"{label}.run", t0, t1)))
        m[f"{label}.add_batch_ms_p50"] = ("ms", pct([b["ms"].get("addBatch", 0) for b in mine], 50))
        m[f"{label}.spark_jobs_per_batch"] = ("count", len(qjobs) / len(mine) if mine else 0.0)
        m[f"{label}.exec_cpu_s"] = (
            "s", sum(t["cpu_ns"] for j in qjobs for t in tasks_by_job.get(j["id"], [])) / 1e9
        )
        m[f"{label}.driver_gap_share"] = ("ratio", 1 - busy / trig if trig else 0.0)
        m[f"{label}.checkpoint_ms_p50"] = (
            "ms",
            pct([b["ms"].get("walCommit", 0) + b["ms"].get("commitOffsets", 0) for b in mine], 50),
        )
    m["synchronize_plan.build_ms_p50"] = (
        "ms", 1000 * pct(tracer.durations("synchronize_plan.build", t0, t1), 50)
    )
    m["sources.stage_s"] = ("s", sum(tracer.durations("sources.stage", t0, t1)))
    m["sources.get_batch_ms_p50"] = ("ms", pct([b["ms"].get("getBatch", 0) for b in batches], 50))

    merges = [(s, e, a) for n, s, e, a in tracer.spans if n == "store.merge" and t0 <= s < t1]
    in_merge = sum(
        1 for j in jobs if any(1000 * s <= j["submit"] <= 1000 * e for s, e, _ in merges)
    )
    m["store.merge_calls"] = ("count", len(merges))
    m["store.merge_ms_p50"] = ("ms", 1000 * pct([e - s for s, e, _ in merges], 50))
    m["store.merge_s_total"] = ("s", sum(e - s for s, e, _ in merges))
    m["store.jobs_per_merge"] = ("count", in_merge / len(merges) if merges else 0.0)
    m["store.bytes_written_mb"] = ("MB", sum(a.get("bytes", 0) for *_, a in merges) / MB)
    m["store.files_written"] = ("count", sum(a.get("files", 0) for *_, a in merges))
    m["store.max_segments_per_bucket"] = (
        "count", max((_segments(r) for r in res["store_roots"]), default=0)
    )
    m["store.read_ms_p50"] = ("ms", 1000 * pct(tracer.durations("store.read", t0, t1), 50))
    for kind in LOOKUP_KINDS:
        m[f"lookup.{kind}_ms_p50"] = ("ms", pct(res["lookup_ms"].get(kind, []), 50))

    run_ms = [t["run_ms"] for t in tasks]
    exec_cpu = sum(t["cpu_ns"] for t in tasks) / 1e9
    skews = []
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    for durs in by_stage.values():
        if len(durs) > 1 and statistics.median(durs) > 0:
            skews.append(max(durs) / statistics.median(durs))
    window_ms = 1000 * (t1 - t0)
    busy = probes.busy_ms((j["submit"], j["end"]) for j in jobs)
    m["spark.jobs"] = ("count", len(jobs))
    m["spark.tasks"] = ("count", len(tasks))
    m["spark.job_ms_p50"] = ("ms", pct([j["end"] - j["submit"] for j in jobs], 50))
    m["spark.exec_cpu_s"] = ("s", exec_cpu)
    m["spark.exec_run_s"] = ("s", sum(run_ms) / 1000)
    m["spark.gc_s"] = ("s", sum(t["gc_ms"] for t in tasks) / 1000)
    m["spark.shuffle_write_mb"] = ("MB", sum(t["shuffle_w"] for t in tasks) / MB)
    m["spark.shuffle_read_mb"] = ("MB", sum(t["shuffle_r"] for t in tasks) / MB)
    m["spark.spill_mb"] = ("MB", sum(t["spill"] for t in tasks) / MB)
    m["spark.task_skew"] = ("ratio", pct(skews, 50))
    m["spark.driver_gap_share"] = ("ratio", 1 - busy / window_ms if window_ms else 0.0)
    m["spark.driver_cpu_s"] = ("s", res["cpu_s"] - exec_cpu)
    return m


def end_to_end(res: dict, setup_s: float) -> dict:
    """The declared metrics. Throughput and latency are printed but not
    declared: under CPU steal they spread past any usable bound, while
    CPU time per op stays steady."""
    return {
        "setup_s": ("s", setup_s),
        "cpu_ms_per_op": ("ms", res["cpu_ms_per_op"]),
        "store_mb": ("MB", sum(_bytes_under(r) for r in res["store_roots"]) / MB),
    }


def headline(res: dict) -> dict[str, float]:
    """The figures the tracing overhead is taken on: CPU per op, which
    holds up under CPU steal, and throughput, which is wall time."""
    return {"cpu_ms_per_op": res["cpu_ms_per_op"], "ops_per_s": res["ops_per_s"]}


def _baseline_path(workload: str, seed: int) -> str:
    return os.path.join(ROOT, ".perfbench", "baselines", f"{workload}-seed{seed}.jsonl")


def save_baseline(workload: str, seed: int, head: dict[str, float]) -> None:
    """Append an untraced run's headline to the log kept per workload
    and seed in the checkout."""
    path = _baseline_path(workload, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a", encoding="utf-8") as fh:
        fh.write(json.dumps(head) + "\n")


def tracing_metrics(workload: str, seed: int, head: dict[str, float]) -> dict:
    """The traced headline and its overhead against the median of the
    untraced runs of the same workload and seed in this checkout. With
    no such run the overhead is not measured, reads 0 and is reported
    as missing."""
    path = _baseline_path(workload, seed)
    base = []
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            base = [json.loads(line) for line in fh if line.strip()]
    m = {
        "tracing.cpu_ms_per_op": ("ms", head["cpu_ms_per_op"]),
        "tracing.ops_per_s": ("1/s", head["ops_per_s"]),
        "tracing.baseline_runs": ("count", len(base)),
        "tracing.overhead_cpu_share": ("ratio", 0.0),
        "tracing.overhead_wall_share": ("ratio", 0.0),
    }
    if not base:
        print(f"  no untraced run of {workload} with seed {seed} in this checkout: "
              "tracing overhead not measured (reads 0)")
        return m
    cpu = statistics.median(b["cpu_ms_per_op"] for b in base)
    ops = statistics.median(b["ops_per_s"] for b in base)
    m["tracing.overhead_cpu_share"] = ("ratio", head["cpu_ms_per_op"] / cpu - 1)
    m["tracing.overhead_wall_share"] = ("ratio", ops / head["ops_per_s"] - 1)
    return m


def run_workload(workload: str, params, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    os.makedirs(run_dir, exist_ok=True)
    t_setup = time.perf_counter()
    spark = start_session(run_dir, trace)
    session_s = time.perf_counter() - t_setup
    tracer = probes.Tracer(trace)
    progress = probes.ProgressLog()
    spark.streams.addListener(progress)
    inputs, gen_s = generate(run_dir, params, seed)
    try:
        with probes.program_spans(tracer) if trace else contextlib.nullcontext():
            if workload == "chain_small_batches":
                res = run_chain(spark, inputs, run_dir, tracer, progress)
            else:
                res = run_lookups(spark, inputs, run_dir, seconds, seed, tracer)
    finally:
        spark.streams.removeListener(progress)
        spark.stop()
    setup_s = session_s + gen_s + res["setup_extra_s"]
    e2e = end_to_end(res, setup_s)
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "e2e": e2e,
        "headline": headline(res),
        "summary": {
            **res["summary"],
            "setup_s": e2e["setup_s"],
            "setup.session_s": ("s", session_s),
            "setup.generate_s": ("s", gen_s),
            "setup.workload_s": ("s", res["setup_extra_s"]),
            "store_mb": e2e["store_mb"],
            # Printed, not declared: the JVM's heap sizing makes it
            # spread 15-25 % between runs of the same work.
            "peak_rss_mb": ("MB", res["peak_rss_mb"]),
            "error_rate": ("ratio", res["failed"] / max(res["attempted"], 1)),
        },
    }
    if trace:
        t0, t1 = res["window"]
        jobs, tasks = probes.read_event_log(
            os.path.join(run_dir, "eventlog"), int(1000 * t0), int(1000 * t1)
        )
        out["layers"] = layer_metrics(res, tracer, jobs, tasks)
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{seed}.jsonl"))
    return out


def report(workload: str, seed: int, out: dict, trace: bool) -> dict:
    """Print the human-readable lines; return the result object."""
    print(f"== {workload} seed={seed} trace={int(trace)} correct={out['correct']} "
          f"attempted={out['attempted']} failed={out['failed']}")
    for name, (unit, value) in out["summary"].items():
        print(f"  {name:<28} {value:>14.4f} {unit}")
    if trace:
        metrics = {**out["layers"], **tracing_metrics(workload, seed, out["headline"])}
        for name, (unit, value) in metrics.items():
            print(f"  {name:<38} {value:>14.4f} {unit}")
    else:
        metrics = out["e2e"]
        save_baseline(workload, seed, out["headline"])
    return {
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (u, v) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "smoke"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True, help="file for the result JSON")
    a = ap.parse_args()
    if a.workload == "smoke":
        results = []
        for w, params in SMOKE.items():
            run_dir = os.path.join(a.run_dir, w)
            check_deterministic(run_dir, params, a.seed)
            out = run_workload(w, params, a.seed, a.seconds, True, run_dir)
            # Its own name, so no baseline of the full-size workload is used.
            results.append(report(f"smoke.{w}", a.seed, out, True))
        result = {
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {},
        }
    else:
        out = run_workload(
            a.workload, WORKLOADS[a.workload], a.seed, a.seconds, bool(a.trace), a.run_dir
        )
        result = report(a.workload, a.seed, out, bool(a.trace))
    with open(a.result, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
