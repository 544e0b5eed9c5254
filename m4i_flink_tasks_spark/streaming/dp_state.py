"""Streaming differential-privacy release: the (event_type, month)
histogram maintained as additive keyed state, released through the
same two-sided-geometric mechanism as the batch query
(``queries/profiling.py`` ``dp_noisy_histogram``).

State shape is the simplest monoid in the privacy family: one integer
count per cell, plain addition — bit-identical for any batch split and
across restarts, cell-count-bounded (event-type vocabulary x months)
regardless of stream length. The noise draw is a pure function of the
CELL KEY over the published seed (see the batch module's determinism
note), so the stream's release equals the batch release whenever the
maintained counts equal the batch counts — which is exactly what the
shared readout + the batch oracle prove. At 100 TB the same contract
is a Delta MERGE adding per-batch partial counts.

The DP framing is genuinely streaming-shaped: a dashboard that
re-releases the histogram every batch pays epsilon PER RELEASE under
sequential composition. Because the noise here is keyed to the cell
(not the release), repeated readouts reuse the SAME draw — the
"publish once, read many" discipline — and the budget column reports
the single epsilon the one release costs.

No reference analogue (the reference maintains no aggregation state —
SURVEY §2.6); north-star streaming-capability scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import replay
from .sources import events_file_stream, stage_events
from .store import BucketedParquetUpsertStore, monoid_combine


def _batch_cell_counts(batch: DataFrame) -> DataFrame:
    # ts_ms -> timestamp -> (year, month): timestamp_millis inverts the
    # staging's unix_millis in the same session timezone, so the cell
    # key equals the batch query's year(ts)*100 + month(ts).
    ts = F.timestamp_millis(F.col("ts_ms"))
    return batch.groupBy(
        "event_type",
        (F.year(ts) * 100 + F.month(ts)).cast("long").alias("ym"),
    ).agg(F.count(F.lit(1)).alias("n"))


def run_stream_dp_release(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 4,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    from ..queries.profiling import dp_release_from_counts

    staging = stage_events(
        spark, sf_dir, os.path.join(workdir, "staging_events"), n_files
    )
    store = BucketedParquetUpsertStore(
        spark,
        os.path.join(workdir, "dp_cells"),
        key_cols=["event_type", "ym"],
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        store.merge(
            _batch_cell_counts(batch),
            combine=monoid_combine(["event_type", "ym"], {"n": "sum"}),
            batch_id=batch_id,
        )

    replay(
        events_file_stream(spark, staging, max_files_per_trigger),
        sink,
        os.path.join(workdir, "ckpt_dp"),
    )

    state = store.require_current()
    return dp_release_from_counts(state)
