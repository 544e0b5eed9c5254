"""Seeded input generator for the pipeline benchmark.

Writes the two tables the four jobs read, in the repository's test-data schema
(``events`` with a microsecond ``ts``, ``customer``), plus each input
slice as one parquet file in the streaming transport schema
(``ts_ms`` epoch millis) ready to drop into a job's staging directory.

The shape of the stream is measured, not chosen: every constant below
is read off the ``events`` and ``customer`` tables of the repository's
sf0.1 test data (100,000 events of 1,500 users, 15,000 customers); see
``perfbench/README.md`` for the figures and the query behind them.

- with ``bootstrap``, slice 0 is one ``signup`` event per guid, so
  every entity exists before the live tail;
- the other slices are the live tail: guids drawn from a Zipf law of
  exponent ``zipf`` over a seeded permutation of the guid space (0
  gives the measured uniform spread), event types uniform over the
  five-type vocabulary, values exponential, arrivals Poisson;
- a share ``unknown_share`` of guids is missing from ``customer``
  (job 1 dead letters), which holds ten customers per guid.

Event ids and timestamps increase strictly, timestamps in whole
milliseconds so the staged ``ts_ms`` and the table's ``ts`` agree
exactly. The same parameters and seed give byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "purchase", "error", "click", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
# Measured on sf0.1 (see the module docstring).
VALUE_MEAN = 49.87  # event value: exponential, two decimals
GAP_MEAN_MS = 25_920  # inter-arrival time: exponential
PROPS_K = 100  # props is '{"k": k}', k uniform below this
CUSTOMERS_PER_GUID = 10  # customer rows per event user

TRANSPORT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts_ms", pa.int64()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class Params:
    guids: int
    slices: int  # live-tail slices, after the bootstrap slice if any
    events_per_slice: int
    zipf: float  # 0 = uniform
    unknown_share: float  # guids absent from customer
    bootstrap: bool  # lead with one signup per guid


@dataclass(frozen=True)
class Inputs:
    table_dir: str  # holds events.parquet and customer.parquet
    slice_files: list[str]  # the bootstrap slice if any, then the live tail
    slice_events: list[int]
    guid_weights: np.ndarray  # the write skew, for drawing read keys


def _zipf_weights(rng: np.random.Generator, n: int, s: float) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    w = ranks ** -s
    w /= w.sum()
    out = np.empty(n)
    out[rng.permutation(n)] = w
    return out


def generate(out_dir: str, p: Params, seed: int) -> Inputs:
    rng = np.random.default_rng(seed)
    weights = _zipf_weights(rng, p.guids, p.zipf)
    n_unknown = int(round(p.guids * p.unknown_share))
    unknown = set(rng.choice(p.guids, size=n_unknown, replace=False).tolist())
    known = np.array(
        [g for g in range(p.guids * CUSTOMERS_PER_GUID) if g not in unknown], dtype=np.int64
    )

    boot = p.guids if p.bootstrap else 0
    sizes = ([boot] if p.bootstrap else []) + [p.events_per_slice] * p.slices
    n = sum(sizes)
    user = np.concatenate(
        [rng.permutation(p.guids)[:boot], rng.choice(p.guids, size=n - boot, p=weights)]
    ).astype(np.int64)
    etype = np.concatenate(
        [np.zeros(boot, dtype=np.int64), rng.integers(0, len(EVENT_TYPES), size=n - boot)]
    )
    value = np.round(rng.exponential(VALUE_MEAN, size=n), 2)
    k = rng.integers(0, PROPS_K, size=n)
    gaps = np.maximum(1, np.round(rng.exponential(GAP_MEAN_MS, size=n))).astype(np.int64)
    ts_ms = T0_MS + np.cumsum(gaps)

    events = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts_ms": pa.array(ts_ms),
            "user_id": pa.array(user),
            "event_type": pa.array([EVENT_TYPES[t] for t in etype]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {kk}}}' for kk in k], pa.string()),
        },
        schema=TRANSPORT_SCHEMA,
    )

    table_dir = os.path.join(out_dir, "tables")
    slice_dir = os.path.join(out_dir, "slices")
    os.makedirs(table_dir, exist_ok=True)
    os.makedirs(slice_dir, exist_ok=True)
    ts = pa.array(ts_ms * 1000, pa.int64()).cast(pa.timestamp("us"))
    pq.write_table(
        events.drop_columns(["ts_ms"]).add_column(1, "ts", ts),
        os.path.join(table_dir, "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(known),
                "c_name": pa.array([f"Customer#{g:09d}" for g in known]),
                "c_nationkey": pa.array(
                    rng.integers(0, 25, size=len(known)).astype(np.int32)
                ),
                "c_acctbal": pa.array(
                    np.round(rng.uniform(-999.99, 9999.99, size=len(known)), 2)
                ),
                "c_mktsegment": pa.array(
                    [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), size=len(known))]
                ),
            }
        ),
        os.path.join(table_dir, "customer.parquet"),
    )
    files, start = [], 0
    for i, size in enumerate(sizes):
        path = os.path.join(slice_dir, f"part-{i:05d}.parquet")
        pq.write_table(events.slice(start, size), path)
        files.append(path)
        start += size
    return Inputs(table_dir, files, sizes, weights)
