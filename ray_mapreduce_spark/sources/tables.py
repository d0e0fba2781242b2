"""Parquet table sources for the driver-generated test schema.

Reference parallel: the reference's only sources are in-memory lists
and smart_open'd text files (reference mapreduce.py:139,167-187). The
engine's native source is splittable, columnar, predicate-pushdown
parquet via ``spark.read.parquet`` — executor-side reads, no
driver-side byte streaming (the reference's acknowledged bottleneck,
reference mapreduce.py:25-26).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-process cache of INFERRED SCHEMAS (StructType metadata only —
# never rows, never plans; every action still scans the parquet files).
# spark.read.parquet() runs driver-side schema inference (a footer
# read + file listing) on EVERY call — measured 70–107 ms per call on
# this box, which was nearly the entire plan-build time of the
# multi-table TPC-H builders (6 tables ≈ 0.45 s of q5's 0.5 s build;
# r16, guide §1/§5 — at an overhead-bound bench SF, driver latency IS
# the query time). First read of a (sf_dir, table) infers and caches;
# later reads pass the schema explicitly (measured ~19 ms/call).
# Keyed on (abspath, mtime_ns, size): a file rewritten in place — e.g.
# regenerated with a different events.ts dtype — gets a new key and
# its schema is inferred again instead of served stale.
_SCHEMA_CACHE: dict = {}


def _read_parquet(spark: SparkSession, sf_dir: str, filename: str) -> DataFrame:
    path = os.path.abspath(os.path.join(sf_dir, filename))
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.parquet`` with ``ts`` as stored: bigint for
    TIMESTAMP(NANOS) (Spark's vectorized reader rejects that physical
    type, so it is read as long under a legacy, runtime-settable conf
    that is harmless for micros files), timestamp_ntz for
    TIMESTAMP(MICROS). Its schema is also the explicit schema of the
    events file stream (streaming/windows.py::events_stream)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _read_parquet(spark, sf_dir, "events.parquet")


def events_ts(df: DataFrame) -> DataFrame:
    """Rebuild ``ts`` of an ``events_raw``-schema frame (batch or
    streaming) as a session-TZ (UTC) timestamp, so every downstream
    plan sees one stable type across data generations. Nanos: ``ts
    div 1000`` stays in integer arithmetic — nanos since epoch (~8e17)
    overflow a double's 53-bit mantissa, so a float division would
    corrupt timestamps. Micros: cast the TIMESTAMP_NTZ."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read as long
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type not in ("timestamp", "timestamp_ntz"):
        # Fail loudly on an unexpected physical type from a future
        # testdata regeneration (e.g. string / INT96) instead of
        # silently coercing garbage — the dtype HAS changed between
        # rounds before (nanos -> micros).
        raise TypeError(
            f"events.ts read as unexpected dtype {ts_type!r}; "
            "expected bigint (nanos-as-long), timestamp, or timestamp_ntz "
            "— inspect pq.read_schema and extend events_ts deliberately"
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Column pruning + filter pushdown reach the
    scan automatically because callers compose DataFrame ops on the
    returned frame (check ``.explain``: PushedFilters / ReadSchema).

    ``events.ts`` has shipped as BOTH parquet TIMESTAMP(NANOS) (rounds
    1-4) and TIMESTAMP(MICROS) (round 5 regeneration), so the loader
    branches on what the scan actually produces rather than assuming a
    generation (``events_raw`` + ``events_ts``).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return events_ts(events_raw(spark, sf_dir))
    return _read_parquet(spark, sf_dir, f"{name}.parquet")

