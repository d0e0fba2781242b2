"""Structured Streaming slice (SURVEY.md §2c "Streaming" row — ABSENT
in the reference semantically, though its shuffle is physically
pull-incremental and a TODO wishes for streaming, reference
mapreduce.py:24,97-131).

Batch-first design: every transformation here takes a DataFrame and
works identically on a batch frame or a streaming frame (Spark's
unified API) — tests assert streaming results equal the batch result
of the same expression. Watermarks bound state at scale: a windowed
agg over 100 TB/day of events holds only in-horizon windows per key.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..sources.tables import events_raw, events_ts


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file stream (one-file directory glob). The driver
    data is static, so tests run with trigger(availableNow=True) —
    the stream processes the backlog and stops. A streaming source
    needs an explicit schema: it is the batch loader's (cached) raw
    schema, and ``ts`` gets the batch loader's rebuild and dtype
    guard, so both paths handle every events.ts generation alike
    (gotcha #1)."""
    raw = (
        spark.readStream.schema(events_raw(spark, sf_dir).schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")  # dir holds all tables
        .load(sf_dir)
    )
    return events_ts(raw)


def tumbling_counts(events: DataFrame, width: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window count per event_type with late-data bound."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window count: each event lands in width/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. State per live session only (watermark-evicted)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "user_id",
            "n_events",
        )
    )


def sessionize_gap_stream(
    events: DataFrame, gap: str = "4 hours", watermark: str = "8 hours"
) -> DataFrame:
    """Streaming twin of the batch ``events_sessionize_gap`` query:
    per (user, session) event count, span, and value sum via
    ``session_window``. Output start/end are unix MICROS of the first
    and last event (win.end minus the gap recovers the last event
    time — Spark extends every session window ``gap`` past its final
    event), matching the batch columns exactly.

    Boundary note: session_window merges on STRICT overlap
    (diff < gap) while the batch lag-form keeps diff == gap in-session
    (diff > gap breaks). The two agree on every non-degenerate corpus;
    the parity test asserts the fixture has no exact-gap pair, so a
    regenerated testdata that ever hits the boundary fails loudly
    instead of silently diverging."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("win.start").alias("start_us"),
            F.unix_micros(F.expr(f"win.end - INTERVAL {gap}")).alias("end_us"),
            "n_events",
            "sum_value",
        )
    )


def stream_stream_purchase_click_join(
    events: DataFrame, events2: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to clicks of the
    same user within the preceding ``horizon``. Both sides are
    watermarked so Spark can evict join state — unbounded-state
    stream-stream joins don't survive production. Works identically on
    batch frames (tests pin equality)."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        events2.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}")),
    ).select("purchase_id", "click_id", "p_user")


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id: state holds one key per seen
    id inside the watermark horizon, then evicts — the streaming
    counterpart of plans/dedup.py dedup_exact, and the standard
    at-least-once -> exactly-once repair stage in an event pipeline."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


STATE_SCHEMA = StructType([StructField("total", LongType())])
RUNNING_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("total", LongType()),
    ]
)


def stateful_running_counts(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-event_type totals across micro-batches (the reference's
    holistic-reduce analog under continuous arrival). State is one
    long per key — bounded regardless of stream length."""
    from pyspark.sql.streaming.state import GroupState

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        prev = state.get[0] if state.exists else 0
        batch_n = sum(len(pdf) for pdf in pdfs)
        total = prev + batch_n
        state.update((total,))
        yield pd.DataFrame({"event_type": [event_type], "total": [total]})

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=RUNNING_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
