"""Batch-equivalent registrations of the streaming operators.

Spark's unified API means every transformation in
``streaming/windows.py`` runs identically on a batch frame (the
``withWatermark`` call is a no-op in batch mode). Registering the
batch application of the SAME functions gives the streaming slice
oracle-checked CORRECTNESS rows: the driver verifies the windowing
semantics against DuckDB, and ``tests/test_streaming.py`` separately
pins streaming-run == batch-run for the same functions.

Oracle notes: Spark's ``window(ts, width, slide)`` aligns window
starts to epoch-based slide boundaries — reproduced in DuckDB via
``time_bucket``. ``session_window`` semantics: a session is
[first_ts, last_ts + gap); an event at exactly prev + gap starts a
NEW session — reproduced via gaps-and-islands with ``diff >= gap``.
Timestamps are exported as unix micros both sides (pairing rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from ..streaming.windows import (
    session_counts,
    stream_dedup,
    sliding_counts,
    stream_stream_purchase_click_join,
    tumbling_counts,
)
from .registry import register


def _micros(df: DataFrame, *keep: str) -> DataFrame:
    return df.select(
        F.unix_micros("win_start").alias("win_start_us"),
        F.unix_micros("win_end").alias("win_end_us"),
        *keep,
    )


@register(
    "stream_tumbling_counts",
    tags=("streaming", "window", "aggregate"),
    oracle="""
    SELECT
      epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))                   AS win_start_us,
      epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR) AS win_end_us,
      event_type,
      count(*) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/windows.py::tumbling_counts applied to the batch
    events table — 1-hour tumbling count per event_type. At scale this
    is one shuffle keyed by (window, event_type) with map-side partial
    counts; in streaming mode watermarking bounds the live state to
    the 2-hour horizon."""
    return _micros(tumbling_counts(load_table(spark, sf_dir, "events")), "event_type", "n")


@register(
    "stream_sliding_counts",
    tags=("streaming", "window", "aggregate"),
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS s1, event_type
      FROM events
    ),
    x AS (
      SELECT s1 AS win_start, event_type FROM b
      UNION ALL
      SELECT s1 - INTERVAL 30 MINUTE AS win_start, event_type FROM b
    )
    SELECT
      epoch_us(win_start)                   AS win_start_us,
      epoch_us(win_start + INTERVAL 1 HOUR) AS win_end_us,
      event_type,
      count(*) AS n
    FROM x
    GROUP BY 1, 2, 3
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding by 30 minutes: every event lands in
    exactly 2 windows (width/slide). The oracle enumerates the two
    slide-aligned windows per event explicitly."""
    return _micros(sliding_counts(load_table(spark, sf_dir, "events")), "event_type", "n")


@register(
    "stream_session_counts",
    tags=("streaming", "session-window", "aggregate"),
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP) - CAST(lag(ts) OVER w AS TIMESTAMP)
                       >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM o
    )
    SELECT user_id,
           epoch_us(min(ts))                      AS win_start_us,
           epoch_us(max(ts) + INTERVAL 10 MINUTE) AS win_end_us,
           count(*) AS n_events
    FROM s
    GROUP BY user_id, sess_id
    """,
)
def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (10-min inactivity gap) per user via Spark's
    session_window, oracle-checked against a gaps-and-islands SQL
    rewrite. State per live session only when run as a stream."""
    out = session_counts(load_table(spark, sf_dir, "events"))
    return _micros(out, "user_id", "n_events")


@register(
    "stream_interval_join",
    tags=("streaming", "stream-stream-join", "interval-join"),
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id  AS p_user
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     -- CAST to micros TIMESTAMP: the Spark side truncates the
     -- TIMESTAMP_NS source to micros (ts div 1000), so the oracle
     -- must compare at the same precision or boundary rows that
     -- differ only in sub-micro nanos would diverge (ADVICE r2).
     AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/windows.py::stream_stream_purchase_click_join applied
    in batch: every purchase joined to same-user clicks in the
    preceding hour. The equi-key (user_id) carries the shuffle; the
    time bound is a post-join filter on co-partitioned rows. In
    streaming mode both watermarks bound the join state to the
    2-hour horizon."""
    e = load_table(spark, sf_dir, "events")
    return stream_stream_purchase_click_join(e, e)


@register(
    "stream_dedup_ids",
    tags=("streaming", "dedup", "exactly-once"),
    oracle="""
    SELECT DISTINCT event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           round(value, 6) + 0.0 AS value
    FROM events
    """,
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/windows.py::stream_dedup applied in batch to a
    deliberately DOUBLED event feed (self-union = the at-least-once
    delivery model): exactly one row per event_id survives. The batch
    twin is deterministic because the duplicates are bit-identical
    rows — whichever copy dropDuplicates keeps, the VALUES are the
    same (and event_id is unique within the source table, verified at
    every sf) — so the output equals DISTINCT over the projection. In
    streaming mode the same function holds one key per id inside the
    2-hour watermark horizon and evicts beyond it
    (tests/test_streaming.py::test_stream_dedup_exact pins the
    streaming execution). Scale shape: ONE shuffle on event_id with
    map-side partial dedup; state in streaming mode is bounded by the
    watermark, state in batch mode by distinct ids per partition."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    doubled = e.union(e)
    return stream_dedup(doubled).select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        (F.round("value", 6) + F.lit(0.0)).alias("value"),
    )
