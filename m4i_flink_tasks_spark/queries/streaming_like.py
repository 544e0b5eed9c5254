"""Event-time windowing queries — batch-verifiable analogues of the
Structured Streaming plans in ``streaming/``.

The reference has **no** windowing (SURVEY §2.6); Flink watermarks appear
only in its didactic example (examples/stream_processing_example.py:42).
The Spark engine adds real event-time operators: tumbling/sliding windows
and gap-based sessionization, which in streaming mode run with watermarks
(see streaming/pipelines.py). The batch forms below are what the DuckDB
gate verifies — the streaming forms reuse the identical column logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table


def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time window per event_type. In streaming this
    is ``F.window(ts, '1 hour')`` + watermark; date_trunc gives the same
    bucketing batch-side and in the oracle."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_millis("window_start").alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start_ms", "event_type")
    )


TUMBLING_SQL = """
SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start_ms, event_type
"""


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) per user —
    gaps-and-islands: new-session flag via lag, session id via running
    sum. Streaming equivalent: ``F.session_window(ts, '30 minutes')``."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = 30 * 60 * 1000
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w)) > gap_ms,
            F.lit(1),
        )
        .otherwise(F.lit(0)),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_millis(F.min("ts")).alias("session_start_ms"),
            F.unix_millis(F.max("ts")).alias("session_end_ms"),
        )
        .orderBy("user_id", "session_seq")
    )


SESSION_SQL = """
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 30 * 60 * 1000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
    SELECT user_id, ts,
           CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       count(*) AS n_events,
       epoch_ms(min(ts)) AS session_start_ms,
       epoch_ms(max(ts)) AS session_end_ms
FROM sessions
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


QUERIES = {
    "tumbling_window_counts": tumbling_window_counts,
    "session_windows": session_windows,
}

ORACLES = {
    "tumbling_window_counts": TUMBLING_SQL,
    "session_windows": SESSION_SQL,
}


def event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: hourly counts per event type
    scored against a trailing 6-window baseline (avg/stddev over the
    preceding frame, never the current window); |z| > 2 on the ROUNDED
    score flags the window — computing the flag from the rounded value
    keeps the boolean cliff identical across engines. Windows with
    fewer than 3 baseline points are unscored (cold start).

    Scale shape: one map-side-combinable aggregate to hourly counts
    (the tumbling kernel), then a per-event-type window over the tiny
    (hours x types) frame — the monitoring query a pipeline runs on
    its own throughput metrics."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias(
            "window_start_ms"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("window_start_ms")
        .rowsBetween(-6, -1)
    )
    scored = hourly.select(
        "window_start_ms",
        "event_type",
        "n_events",
        F.count("n_events").over(w).alias("n_baseline"),
        F.avg("n_events").over(w).alias("baseline_avg"),
        F.stddev_samp("n_events").over(w).alias("baseline_std"),
    ).filter(F.col("n_baseline") >= 3)
    z = F.when(
        F.col("baseline_std") > 0,
        (F.col("n_events") - F.col("baseline_avg"))
        / F.col("baseline_std"),
    ).otherwise(F.lit(0.0))
    return scored.select(
        "window_start_ms",
        "event_type",
        "n_events",
        F.round("baseline_avg", 4).alias("baseline_avg"),
        F.round(z, 4).alias("z_score"),
        (F.abs(F.round(z, 4)) > 2).alias("is_anomaly"),
    ).orderBy("window_start_ms", "event_type")


ANOMALY_SQL = """
WITH hourly AS (
    SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
),
scored AS (
    SELECT window_start_ms, event_type, n_events,
           count(n_events) OVER w AS n_baseline,
           avg(n_events) OVER w AS baseline_avg,
           stddev_samp(n_events) OVER w AS baseline_std
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY window_start_ms
                 ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT window_start_ms, event_type, n_events,
       round(baseline_avg, 4) AS baseline_avg,
       round(CASE WHEN baseline_std > 0
                  THEN (n_events - baseline_avg) / baseline_std
                  ELSE 0.0 END, 4) AS z_score,
       abs(round(CASE WHEN baseline_std > 0
                      THEN (n_events - baseline_avg) / baseline_std
                      ELSE 0.0 END, 4)) > 2 AS is_anomaly
FROM scored
WHERE n_baseline >= 3
ORDER BY window_start_ms, event_type
"""

QUERIES["event_rate_anomalies"] = event_rate_anomalies
ORACLES["event_rate_anomalies"] = ANOMALY_SQL
