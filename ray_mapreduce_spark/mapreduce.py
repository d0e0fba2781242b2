"""Reference-compatible MapReduce API shim.

Drop-in signatures for the reference's three entry points
(reference mapreduce.py:139,167,176), implemented as the one-line
Spark pipeline the whole reference engine reduces to
(SURVEY.md §2a "whole-pipeline Spark equivalent"):

    parallelize/read.text -> flatMap(map_fcn)
      -> groupByKey(num_reducers) -> map(reduce_fcn) -> collect

Preserved semantic invariants (SURVEY.md §4.3):

1. grouping totality — every (k, v) with equal k reaches exactly one
   reduce call (Spark hash shuffle guarantees this);
2. holistic reduce — ``reduce_fcn(k, values)`` receives the fully
   materialized list (``groupByKey`` + ``list``, deliberately NOT
   ``reduceByKey``; reference mapreduce.py:132-133);
3. value order within a key is unspecified (reference arrival order is
   racy across mappers, mapreduce.py:120-128) — callers must treat
   value lists as multisets, as the reference's own tests do;
4. global output order is unspecified (reference concatenates in
   shard-then-insertion order, mapreduce.py:161-164) — callers sort;
5. zero/multi-emit map generators are honored (``flatMap``);
6. user-caught malformed input doesn't kill the job (U11 pattern runs
   inside the user generator unchanged).

Key-type contract: the reference's shipped sharder requires ``str``
keys (``key.encode``, reference mapreduce.py:68-71) while its tests
use ints — internally inconsistent (SURVEY.md §1.2). This shim
accepts any hashable key (Spark's portable hash partitioner) and
documents the superset; ``strict_keys=True`` opts into the
reference's str-only contract, raising on non-str keys like the
shipped sharder would.

Differences by design (not bugs): mapper->reducer pairing uses
Spark's hash, not sha256 — key *placement* differs, key *grouping*
is identical; intermediates spill to disk instead of living in actor
memory (the reference's acknowledged scale ceiling, reference
mapreduce.py:24-26,81-83); chunk scheduling is Spark's task
scheduler, so ``max_chunk_size``/``distribute_work_fcn`` only
influence partition counts.
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import SparkSession

from .session import get_spark
from .sources.text import read_manifest, read_text_lines

MapFcn = Callable[[Any], Iterable[tuple[Any, Any]]]
ReduceFcn = Callable[[Any, list], Any]


CombinerFcn = Callable[[Any, Any], Any]


def _run(
    rdd,
    map_fcn: MapFcn,
    reduce_fcn: ReduceFcn,
    num_reducers: int,
    strict_keys: bool,
    combiner: CombinerFcn | None = None,
) -> list:
    if strict_keys:

        def mapper(record):
            for k, v in map_fcn(record):
                if not isinstance(k, str):
                    # Reference sharder behavior: non-str keys raise
                    # (key.encode on int -> AttributeError, mapreduce.py:70).
                    raise AttributeError(
                        f"strict_keys: reference sharder requires str keys, "
                        f"got {type(k).__name__}"
                    )
                yield (k, v)

        mapped = rdd.flatMap(mapper)
    else:
        # Default path: hand the user generator straight to flatMap —
        # the strict-keys wrapper added a second Python generator layer
        # per record, measurable per-element overhead at millions of
        # records (r15; guide §4 — per-row Python cost is the wall for
        # opaque-UDF jobs). flatMap itself already evaluates
        # chain.from_iterable(map(map_fcn, it)) in one tight loop.
        # Error-locality tradeoff (ADVICE r15): without the wrapper's
        # per-element (k, v) unpack, a map_fcn yielding malformed
        # elements (e.g. 3-tuples) now errors inside shuffle
        # serialization with a less friendly traceback instead of at
        # the mapper — that traceback is a malformed-map-output bug,
        # not a shuffle bug. Valid-input behavior is unchanged.
        mapped = rdd.flatMap(map_fcn)
    parts = max(int(num_reducers), 1)
    if combiner is not None:
        # Opt-in algebraic mode: the caller declares the reduction
        # associative+commutative by supplying the binary value-merge;
        # Spark then partial-aggregates MAP-SIDE (reduceByKey), so the
        # shuffle carries one value per (key, partition) instead of
        # every emitted pair — the difference between shuffling O(n)
        # and O(keys x partitions) at 100 TB. The reduce contract is
        # preserved by applying reduce_fcn to the singleton merged
        # list; the caller guarantees
        #   reduce_fcn(k, [fold(combiner, vs)]) == reduce_fcn(k, vs)
        # (true for max/min/sum/count-style reductions). Default path
        # below stays fully holistic.
        return (
            mapped.reduceByKey(combiner, numPartitions=parts)
            .map(lambda kv: reduce_fcn(kv[0], [kv[1]]))
            .collect()
        )
    return (
        mapped.groupByKey(numPartitions=parts)
        .map(lambda kv: reduce_fcn(kv[0], list(kv[1])))
        .collect()
    )


def _chunk_size(n: int, num_mappers: int, max_chunk_size: int) -> int:
    """The reference's chunk arithmetic (mapreduce.py:148-150); ``n``
    is the dataset_size hint or the true row count."""
    return min(max_chunk_size, math.ceil(n / max(num_mappers, 1))) or 1


def _num_partitions(n: int, count: int, num_mappers: int, max_chunk_size: int) -> int:
    """Input partitions for ``count`` rows: one per chunk, capped at
    10,000 and floored at num_mappers — the one rule for list, range
    and streamed inputs."""
    chunks = math.ceil(count / _chunk_size(n, num_mappers, max_chunk_size))
    return max(min(chunks, 10_000), int(num_mappers), 1)


def MapReduceBulk(
    data_list: Iterable,
    map_fcn: MapFcn,
    reduce_fcn: ReduceFcn,
    num_mappers: int,
    num_reducers: int,
    max_chunk_size: int = 1000,
    dataset_size: int | None = None,
    distribute_work_fcn=None,
    spark: SparkSession | None = None,
    strict_keys: bool = False,
    combiner: CombinerFcn | None = None,
) -> list:
    """Reference ``MapReduceBulk`` (mapreduce.py:139-164).

    ``max_chunk_size``/``dataset_size`` reproduce the reference's
    partitioning arithmetic (chunk_size = min(max_chunk_size,
    ceil(n/num_mappers)), mapreduce.py:148-150) as a partition-count
    hint; ``distribute_work_fcn`` is accepted for signature parity but
    scheduling belongs to Spark (reference round-robins chunks,
    mapreduce.py:140-146 — same data-to-task totality, different
    placement). ``combiner`` opts into map-side partial aggregation
    (see ``_run``); omit it for reference-exact holistic reduces.
    """
    spark = spark or get_spark()
    sc = spark.sparkContext
    if not isinstance(data_list, (list, tuple, range)):
        # Lazy/unsized iterables: STREAM driver-side in buffers instead
        # of materializing one full Python list (r16, guide §4/§5).
        # Each buffer becomes one parallelize call — the serialized
        # rows then sit in JVM driver memory until the job runs, so
        # this bounds Python-side memory, not the driver's total. The
        # buffer is a multiple of chunk_size (and >= 100k rows, so a
        # small reference-default max_chunk_size of 1000 cannot
        # degenerate into thousands of per-chunk py4j calls): every
        # full buffer slices into whole chunks, and union preserves
        # buffer order. An input that fits in the first buffer is
        # just a list and takes the list path below.
        if dataset_size is not None:
            chunk_size = _chunk_size(dataset_size, num_mappers, max_chunk_size)
        else:
            chunk_size = max(int(max_chunk_size), 1)
        buf_rows = chunk_size * math.ceil(100_000 / chunk_size)
        it = iter(data_list)
        chunk = list(itertools.islice(it, buf_rows))
        if len(chunk) == buf_rows:
            rdds, count = [], 0
            while chunk:
                count += len(chunk)
                rdds.append(sc.parallelize(chunk, math.ceil(len(chunk) / chunk_size)))
                chunk = list(itertools.islice(it, buf_rows))
            rdd = sc.union(rdds)
            n = dataset_size if dataset_size is not None else count
            num_parts = _num_partitions(n, count, num_mappers, max_chunk_size)
            if rdd.getNumPartitions() != num_parts:
                # the list path's num_mappers floor (a shuffle, only for
                # a multi-buffer stream cut into fewer chunks than
                # mappers) or its partition cap (a narrow coalesce)
                rdd = rdd.coalesce(num_parts, shuffle=rdd.getNumPartitions() < num_parts)
            return _run(rdd, map_fcn, reduce_fcn, num_reducers, strict_keys, combiner)
        data_list = chunk
    # Keep ``range`` inputs unconverted: SparkContext.parallelize has a
    # dedicated range fast path ("Using range is recommended if the
    # input represents a range for performance" — pyspark docs) that
    # ships only (start, stop, step) per partition and generates the
    # elements executor-side, instead of pickling every element
    # through the driver and a temp file (guide §4: move fewer bytes
    # across the Python boundary). Same elements, same order — the
    # reference's 2M-record job drops its driver-side serialization
    # entirely. list/tuple inputs are unchanged.
    n = dataset_size if dataset_size is not None else len(data_list)
    rdd = sc.parallelize(data_list, _num_partitions(n, len(data_list), num_mappers, max_chunk_size))
    return _run(rdd, map_fcn, reduce_fcn, num_reducers, strict_keys, combiner)


def MapReduceWithOneFileInput(
    filename: str,
    map_fcn: MapFcn,
    reduce_fcn: ReduceFcn,
    num_mappers: int,
    num_reducers: int,
    max_chunk_size: int = 1000,
    ignore_first_line: bool = False,
    spark: SparkSession | None = None,
    strict_keys: bool = False,
    combiner: CombinerFcn | None = None,
) -> list:
    """Reference ``MapReduceWithOneFileInput`` (mapreduce.py:167-173).

    The reference streams every byte through the driver
    (smart_open on the driver feeding actor RPCs); here the read is
    executor-side and splittable. Lines arrive WITHOUT the trailing
    newline (Spark strips it; the reference keeps it — its test map
    fns ``int(data)`` tolerate both, reference
    mapreduce_unittest.py:6-8). Header skip shares
    ``sources.text.read_text_lines`` — exact per file even when the
    file spans multiple input splits.
    """
    spark = spark or get_spark()
    min_parts = max(int(num_mappers), 1)
    if ignore_first_line:
        rdd = read_text_lines(spark, filename, ignore_first_line=True).rdd.map(
            lambda row: row[0]
        )
        if rdd.getNumPartitions() < min_parts:
            rdd = rdd.repartition(min_parts)  # output order is unspecified (invariant 4)
    else:
        rdd = spark.sparkContext.textFile(filename, minPartitions=min_parts)
    return _run(rdd, map_fcn, reduce_fcn, num_reducers, strict_keys, combiner)


def MapReduceWithMultipleFiles(
    index_filename: str,
    map_fcn: MapFcn,
    reduce_fcn: ReduceFcn,
    num_mappers: int,
    num_reducers: int,
    spark: SparkSession | None = None,
    strict_keys: bool = False,
    combiner: CombinerFcn | None = None,
) -> list:
    """Reference ``MapReduceWithMultipleFiles`` (mapreduce.py:176-187):
    an index file of one path per line; mappers read their own files.
    Spark reads the listed paths executor-side (data-local); only the
    tiny index transits the driver — same as the reference, minus the
    filename round-robin (Spark schedules splits with locality).
    ``sources.text.read_manifest`` parses the index and passes the
    paths as a LIST, so paths containing commas or glob
    metacharacters read correctly, matching the reference's
    arbitrary-path handling."""
    spark = spark or get_spark()
    min_parts = max(int(num_mappers), 1)
    rdd = read_manifest(spark, index_filename).rdd.map(lambda row: row[0])
    if rdd.getNumPartitions() < min_parts:
        rdd = rdd.repartition(min_parts)  # output order is unspecified (invariant 4)
    return _run(rdd, map_fcn, reduce_fcn, num_reducers, strict_keys, combiner)
