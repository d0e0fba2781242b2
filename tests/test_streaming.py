"""Streaming slice tests: run each streaming query over the static
events table with trigger(availableNow=True) and compare against the
identical batch expression (unified-API property), plus a
late-data/watermark behavior check.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ray_mapreduce_spark.sources import load_table
from ray_mapreduce_spark.streaming import (
    events_stream,
    session_counts,
    sliding_counts,
    stateful_running_counts,
    stream_dedup,
    stream_stream_purchase_click_join,
    tumbling_counts,
)


def _run_stream(spark, sdf, name: str, output_mode: str = "complete"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    q.stop()
    return rows


def _sorted(rows):
    return sorted(tuple(r) for r in rows)


def test_tumbling_equals_batch(spark, sf_dir):
    stream_rows = _run_stream(
        spark, tumbling_counts(events_stream(spark, sf_dir)), "t_tumble"
    )
    batch_rows = tumbling_counts(load_table(spark, sf_dir, "events")).collect()
    assert len(stream_rows) > 0
    assert _sorted(stream_rows) == _sorted(batch_rows)


def test_sliding_equals_batch(spark, sf_dir):
    stream_rows = _run_stream(
        spark, sliding_counts(events_stream(spark, sf_dir)), "t_slide"
    )
    batch_rows = sliding_counts(load_table(spark, sf_dir, "events")).collect()
    assert len(stream_rows) > len(batch_rows) / 3  # sanity: both non-trivial
    assert _sorted(stream_rows) == _sorted(batch_rows)
    # Each event lands in 2 windows (width 1h, slide 30m): total count
    # doubles the tumbling total.
    total = sum(r["n"] for r in stream_rows)
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == 2 * n_events


def test_session_counts_runs(spark, sf_dir):
    stream_rows = _run_stream(
        spark, session_counts(events_stream(spark, sf_dir)), "t_session"
    )
    batch_rows = session_counts(load_table(spark, sf_dir, "events")).collect()
    assert len(stream_rows) > 0
    assert _sorted(stream_rows) == _sorted(batch_rows)
    # Session totality: every event is in exactly one session.
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in stream_rows) == n_events


def test_stateful_running_counts(spark, sf_dir):
    rows = _run_stream(
        spark,
        stateful_running_counts(events_stream(spark, sf_dir)),
        "t_state",
        output_mode="update",
    )
    # Final state per event_type must equal the batch counts.
    batch = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # memory sink in update mode appends per-batch updates; the last
    # row per key is the final state.
    final = {}
    for r in rows:
        final[r["event_type"]] = r["total"]
    assert final == batch


def test_stream_dedup_exact(spark, sf_dir):
    """Duplicate the stream (self-union), dedup on event_id -> exactly
    the distinct id count survives."""
    s = events_stream(spark, sf_dir)
    doubled = s.union(events_stream(spark, sf_dir))
    rows = _run_stream(spark, stream_dedup(doubled), "t_dedup", output_mode="append")
    n_distinct = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert len(rows) == n_distinct
    assert len({r["event_id"] for r in rows}) == n_distinct


def test_stream_stream_join_equals_batch(spark, sf_dir):
    s = stream_stream_purchase_click_join(
        events_stream(spark, sf_dir), events_stream(spark, sf_dir)
    )
    stream_rows = _run_stream(spark, s, "t_ssj", output_mode="append")
    b = load_table(spark, sf_dir, "events")
    batch_rows = stream_stream_purchase_click_join(b, b).collect()
    assert len(stream_rows) > 0
    assert _sorted(stream_rows) == _sorted(batch_rows)


def test_stream_to_parquet_sink(spark, sf_dir, tmp_path):
    """File sink + checkpoint: the production write path (exactly-once
    via checkpointed offsets)."""
    out = str(tmp_path / "tumble_out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        tumbling_counts(events_stream(spark, sf_dir))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    back = spark.read.parquet(out)
    # append mode with watermark emits only finalized windows; static
    # data finalizes everything except the tail horizon
    assert back.count() > 0
    assert set(back.columns) == {"win_start", "win_end", "event_type", "n"}


def test_watermark_bounds_state(spark, sf_dir):
    """Watermark column present and plan accepts late-data bound —
    the state-eviction contract (eviction itself needs multi-batch
    arrival; availableNow on static data processes one batch)."""
    sdf = tumbling_counts(events_stream(spark, sf_dir), watermark="30 minutes")
    assert sdf.isStreaming
    rows = _run_stream(spark, sdf, "t_wm")
    assert len(rows) > 0


def test_streaming_run_matches_duckdb_oracle(spark, sf_dir):
    """Closes the oracle loop for the streaming slice (r3): the driver
    verifies the BATCH application of tumbling_counts against DuckDB;
    here the genuinely STREAMING execution (readStream + availableNow)
    is compared to that same DuckDB oracle — so the green driver row
    certifies streaming semantics, not just the shared expression."""
    import duckdb  # noqa: F401 - via testing helper

    from ray_mapreduce_spark.plans.registry import all_queries
    from ray_mapreduce_spark.testing import duckdb_connection

    stream_rows = _run_stream(
        spark, tumbling_counts(events_stream(spark, sf_dir)), "t_oracle_leg"
    )
    got = _sorted(
        (r["win_start"], r["win_end"], r["event_type"], r["n"]) for r in stream_rows
    )
    con = duckdb_connection(sf_dir)
    try:
        oracle = all_queries()["stream_tumbling_counts"].oracle
        import datetime as dt

        want = _sorted(
            (
                dt.datetime.fromtimestamp(s / 1e6, dt.timezone.utc).replace(tzinfo=None),
                dt.datetime.fromtimestamp(e / 1e6, dt.timezone.utc).replace(tzinfo=None),
                et,
                n,
            )
            for s, e, et, n in con.execute(oracle).fetchall()
        )
    finally:
        con.close()
    assert len(got) > 0
    assert got == want


def test_events_stream_ts_guard_rejects_unknown_dtype(spark, tmp_path):
    """gotcha #1's STREAMING mirror of the batch loader guard
    (test_plans.py::test_events_ts_guard_rejects_unknown_dtype): the
    stream source probes the parquet footer and branches on the ts
    dtype; any physical type outside the two known generations must
    fail loudly before a stream ever starts."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from ray_mapreduce_spark.streaming.windows import events_stream

    t = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array(["2024-01-01 00:00:00"], pa.string()),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["view"], pa.string()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    with _pytest.raises(TypeError, match="unexpected dtype 'string'"):
        events_stream(spark, str(tmp_path))


def test_events_nanos_ts_batch_equals_stream(spark, tmp_path):
    """An events.parquet written as TIMESTAMP(NANOS) — the older data
    generation, which the shipped testdata no longer exercises — loads
    with the same ``ts`` through ``load_table`` and through
    ``events_stream``: nanos read as long, rebuilt in integer
    arithmetic (sub-microsecond digits truncate) to a UTC timestamp."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [1_704_067_200_123_456_789, 1_704_070_800_000_000_999, 1_704_074_400_000_000_000]
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": pa.array(["view", "click", "view"], pa.string()),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"], pa.string()),
        }
    )
    path = tmp_path / "events.parquet"
    pq.write_table(t, str(path), version="2.6")
    assert pq.read_schema(str(path)).field("ts").type == pa.timestamp("ns")

    batch = load_table(spark, str(tmp_path), "events")
    stream = events_stream(spark, str(tmp_path))
    assert dict(batch.dtypes)["ts"] == dict(stream.dtypes)["ts"] == "timestamp"
    cols = ["event_id", F.unix_micros("ts").alias("us")]
    want = [(i + 1, n // 1000) for i, n in enumerate(nanos)]
    assert _sorted(batch.select(*cols).collect()) == want
    assert _sorted(_run_stream(spark, stream.select(*cols), "t_nanos", "append")) == want


def test_sessionize_gap_stream_equals_batch(spark, sf_dir):
    """The r7 batch sessionizer (`events_sessionize_gap`, lag +
    running-sum windows) and the Structured Streaming twin
    (`session_window`) must produce IDENTICAL sessions — same
    (user, start, end) spans, same event counts, same value sums.
    session_no is a batch-side ordinal the stream can't know, so the
    comparison keys sessions by their span instead."""
    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.streaming import sessionize_gap_stream
    from ray_mapreduce_spark.plans.advanced import SESSION_GAP_US

    # honesty guard for the strict-vs-inclusive gap boundary (see the
    # sessionize_gap_stream docstring): regenerated testdata with an
    # exact-gap adjacent pair must fail HERE, not silently diverge.
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("us", "event_id")
    exact_gap = (
        e.withColumn("gap", F.col("us") - F.lag("us").over(w))
        .filter(F.col("gap") == SESSION_GAP_US)
        .count()
    )
    assert exact_gap == 0, "fixture hit the session-gap boundary"

    batch = {
        (r["user_id"], r["start_us"], r["end_us"]): (r["n_events"], r["sum_value"])
        for r in all_queries()["events_sessionize_gap"]
        .builder(spark, sf_dir)
        .collect()
    }
    stream_rows = _run_stream(
        spark,
        sessionize_gap_stream(events_stream(spark, sf_dir)),
        "t_sessionize_parity",
    )
    stream = {
        (r["user_id"], r["start_us"], r["end_us"]): (r["n_events"], r["sum_value"])
        for r in stream_rows
    }
    assert len(stream) == len(stream_rows)  # spans unique per user
    assert stream == batch
