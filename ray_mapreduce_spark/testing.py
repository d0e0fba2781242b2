"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs a registered query's Spark builder and its DuckDB oracle SQL on
the same sf dir, then compares row count, column names, and values
order-insensitively — the same contract the driver applies at sf0.01
(see __spark_entry__.py docstring). Values are compared EXACTLY for
every type, floats included (bit equality up to NaN, signed zero
distinguished): the driver hashes typed values, so any float the two
engines disagree on — by even one ulp — is a driver red. r13's
`orders_twoway_fixed_effects` red walked through the old
`math.isclose(rel_tol=1e-9)` comparator (±22 of slack at 2.2e10
magnitude); the r13 judge's strict sweep showed 307/308 queries
already compare bit-identical, so exactness costs nothing and makes
every local sweep exactly as strict as the driver hash.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from decimal import Decimal
from typing import Any

import duckdb
from pyspark.sql import SparkSession

from .sources import TABLE_NAMES


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


# Arrow types an oracle may emit without risking the driver's typed
# hash. DuckDB widens window/aggregate integer arithmetic to HUGEINT
# (arrow decimal128(38,0)) and bare decimal literals to DECIMAL — both
# pass through the driver's pandas conversion as float64 / lucky
# doubles and hash-mismatch a numerically identical Spark int/double
# (the events_kaplan_meier r12 red). compare_query rejects them at
# fetch time; tests/test_oracle_types.py sweeps the whole registry.
DRIVER_SAFE_ORACLE_TYPES = frozenset(
    {"int64", "int32", "double", "string", "bool"}
)


def _norm_value(v: Any) -> Any:
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def _norm_row(row: tuple) -> tuple:
    return tuple(_norm_value(v) for v in row)


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, str(type(v).__name__), str(v)) for v in row)


def _values_equal(a: Any, b: Any) -> bool:
    if a is None or b is None:
        return a is None and b is None
    a_float = isinstance(a, float)
    b_float = isinstance(b, float)
    if a_float or b_float:
        # The driver hashes TYPED values: an integral 9 on one engine and a
        # DOUBLE 9.0 on the other hash-mismatch even though they compare
        # numerically equal. r3's array_hof red row slipped through the old
        # coerce-both-to-float comparator — the local gate must be at least
        # as strict as the driver, so cross-type drift is a failure.
        if a_float != b_float:
            return False
        if math.isnan(a) and math.isnan(b):
            return True
        # EXACT float equality (r14, the float half of the comparator
        # blind spot — the integer/HUGEINT half closed in r13): the
        # driver hashes typed bytes, so a 1-ulp cross-engine divergence
        # is a red no tolerance may hide. Signed zero is distinguished
        # (gotcha #3: -0.0 and 0.0 hash differently).
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return a == b


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register the test tables as views, as the driver does."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare_query(
    spark: SparkSession, name: str, builder, oracle: str, sf_dir: str
) -> CompareResult:
    spark_df = builder(spark, sf_dir)
    spark_cols = list(spark_df.columns)
    spark_rows = [_norm_row(tuple(r)) for r in spark_df.collect()]

    con = duckdb_connection(sf_dir)
    try:
        # Fetch via arrow, not fetchall(): fetchall() converts HUGEINT to
        # a plain Python int, hiding integer-width divergence the driver's
        # typed hash rejects (the events_kaplan_meier r12 red — every local
        # sweep was green while the driver red-flagged it). The arrow
        # schema preserves the oracle's real output types, so we can fail
        # loudly on anything outside the driver-safe whitelist.
        tbl = con.execute(oracle).fetch_arrow_table()
        oracle_cols = list(tbl.schema.names)
        bad_types = [
            f"{f.name}:{f.type}"
            for f in tbl.schema
            if str(f.type) not in DRIVER_SAFE_ORACLE_TYPES
        ]
        if bad_types:
            return CompareResult(
                name, False, len(spark_rows), tbl.num_rows,
                "oracle output type(s) outside the driver-safe whitelist "
                f"(would hash-mismatch under the driver's typed hash): {bad_types}",
            )
        cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        oracle_rows = [_norm_row(t) for t in zip(*cols)] if cols else []
    finally:
        con.close()

    if sorted(spark_cols) != sorted(oracle_cols):
        return CompareResult(
            name, False, len(spark_rows), len(oracle_rows),
            f"column mismatch: spark={spark_cols} oracle={oracle_cols}",
        )
    if len(spark_rows) != len(oracle_rows):
        return CompareResult(
            name, False, len(spark_rows), len(oracle_rows),
            f"row count mismatch: spark={len(spark_rows)} oracle={len(oracle_rows)}",
        )

    # Align column order by name (the driver sorts columns by name).
    order = [spark_cols.index(c) for c in sorted(spark_cols)]
    o_order = [oracle_cols.index(c) for c in sorted(oracle_cols)]
    s_sorted = sorted((tuple(r[i] for i in order) for r in spark_rows), key=_sort_key)
    o_sorted = sorted((tuple(r[i] for i in o_order) for r in oracle_rows), key=_sort_key)

    for i, (sr, orow) in enumerate(zip(s_sorted, o_sorted)):
        for c, (sv, ov) in enumerate(zip(sr, orow)):
            if not _values_equal(sv, ov):
                return CompareResult(
                    name, False, len(spark_rows), len(oracle_rows),
                    f"value mismatch at sorted row {i} col {sorted(spark_cols)[c]!r}: "
                    f"spark={sv!r} oracle={ov!r}",
                )
    return CompareResult(name, True, len(spark_rows), len(oracle_rows))


def storage_bytes(spark: SparkSession) -> tuple[int, int]:
    """(memory_bytes, disk_bytes) currently held by cached/checkpointed
    RDD blocks — the sweep-session storage telemetry behind the
    release_caches hook."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mem = sum(i.memSize() for i in infos)
    disk = sum(i.diskSize() for i in infos)
    return mem, disk


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(count, seconds) of Janino class compilations since the JVM
    started. The count is ``CodegenMetrics.METRIC_COMPILATION_TIME``'s
    histogram count; the seconds are ``CodeGenerator.compileTime``, an
    exact nanosecond sum. Take the difference of two calls to count one
    pass; a cache hit compiles nothing."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, nanos / 1e9


def release_caches(spark: SparkSession) -> None:
    """Drop every persisted DataFrame fragment (the deliberately
    long-lived `_persisted_corpus` / shingle / band caches included).

    Individual builders can NOT unpersist for themselves — their
    returned frame reads the cache lazily, so dropping it before the
    caller's action would re-execute the lineage the persist exists to
    protect (see _persisted_corpus docstring). A multi-query sweep
    session, however, knows when a query is DONE; calling this between
    queries keeps peak cached storage at one query's footprint instead
    of the whole registry's. localCheckpoint blocks are freed by JVM
    GC of their RDD handles, not by clearCache — that release happens
    when the frame goes out of scope on the Python side."""
    spark.catalog.clearCache()


def _plan_children(p) -> list:
    """The nodes a physical plan runs below ``p``: an adaptive plan's
    current plan (AQE's initial plan before any action, the final plan
    after one) and a query stage's inner plan count as children. An
    ``InMemoryRelation``'s ``cachedPlan`` does not: a cache scan is a
    leaf."""
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [p.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [p.plan()]
    kids = p.children()
    return [kids.apply(i) for i in range(kids.length())]


def walk_plan(plan, visit) -> None:
    """Call ``visit`` on every node of the JVM physical plan ``plan``,
    parent before children (see ``_plan_children`` for what is
    followed)."""
    todo = [plan]
    while todo:
        p = todo.pop()
        visit(p)
        todo.extend(reversed(_plan_children(p)))


_EXCHANGE_KINDS = {
    "HashPartitioning": "hash",
    "RangePartitioning": "range",
    "RoundRobinPartitioning": "roundrobin",
    "SinglePartition$": "single",
}
_COUNTED = {
    "BroadcastExchange": "broadcast_exchange",
    "Sort": "sort",
    "HashAggregate": "hash_aggregate",
    "BroadcastHashJoin": "bhj",
    "SortMergeJoin": "smj",
    "BroadcastNestedLoopJoin": "bnlj",
    "CartesianProduct": "cartesian",
    "Scan ExistingRDD": "scan_existing_rdd",
}


def _exchange_kind(p) -> str:
    name = p.outputPartitioning().getClass().getSimpleName()
    return _EXCHANGE_KINDS.get(name, name)


def _below(p, name: str) -> list:
    """Nodes called ``name`` under ``p`` with no Exchange between."""
    found, todo = [], _plan_children(p)
    while todo:
        n = todo.pop()
        if n.nodeName() == name:
            found.append(n)
        elif n.nodeName() != "Exchange":
            todo.extend(_plan_children(n))
    return found


def _names(seq) -> set:
    return {seq.apply(i).name() for i in range(seq.length())}


def _c6_hits(exchange) -> list[bool]:
    """One entry per C6 hit at a hash ``exchange``: a ``Generate``
    below it that reads a round-robin Exchange, so a round-robin spread
    is exploded and then re-shuffled. True when a hash key is one of
    the Generate's pass-through columns: ``spread_by(key)`` before the
    explode would then make this exchange unnecessary."""
    keys = set()
    exprs = exchange.outputPartitioning().expressions()
    for i in range(exprs.length()):
        keys |= _names(exprs.apply(i).references().toSeq())
    hits = []
    for gen in _below(exchange, "Generate"):
        passthrough = _names(gen.requiredChildOutput())
        for rr in _below(gen, "Exchange"):
            if _exchange_kind(rr) == "roundrobin":
                hits.append(bool(keys & passthrough))
    return hits


def plan_shape(df) -> dict[str, int]:
    """Non-zero node counts of ``df``'s executed physical plan: its
    Exchanges by partitioning kind, broadcasts, sorts, hash aggregates,
    joins by strategy, Python-eval nodes, ``Scan ExistingRDD`` leaves
    (eager checkpoints) and C6 hits (``_c6_hits``). Each distinct
    cached relation's plan is walked once however often the query
    reads it, since the persisted lineage runs once."""
    counts: dict[str, int] = {}
    seen_caches: set = set()
    identity = df.sparkSession._jvm.java.lang.System.identityHashCode

    def bump(key: str, n: int = 1) -> None:
        if n:
            counts[key] = counts.get(key, 0) + n

    def visit(p) -> None:
        name = p.nodeName()
        if name == "Exchange":
            kind = _exchange_kind(p)
            bump(f"exchange_{kind}")
            if kind == "hash":
                hits = _c6_hits(p)
                bump("c6", len(hits))
                bump("c6_convertible", sum(hits))
        elif name in _COUNTED:
            bump(_COUNTED[name])
        elif name == "InMemoryTableScan":
            builder = p.relation().cacheBuilder()
            if identity(builder) not in seen_caches:
                seen_caches.add(identity(builder))
                walk_plan(builder.cachedPlan(), visit)
        if ".python." in p.getClass().getName():
            bump("python_eval")

    walk_plan(df._jdf.queryExecution().executedPlan(), visit)
    return dict(sorted(counts.items()))
