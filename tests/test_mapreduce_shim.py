"""Ports of the reference's four golden tests (FIXTURES.md Group A;
reference mapreduce_unittest.py) through the compatibility shim, plus
the month-count TSV workload (Group B) and the §4.3 invariants the
reference's own tests under-cover (COUNT/SUM goldens that catch
dropped rows, zero/multi-emit, strict-key mode, malformed input).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from ray_mapreduce_spark.mapreduce import (
    MapReduceBulk,
    MapReduceWithMultipleFiles,
    MapReduceWithOneFileInput,
)

# Shared golden fixture (reference mapreduce_unittest.py:6-27; keys
# cast to str per the shipped sharder contract, FIXTURES.md Group A).
EXPECTED_MAX = sorted(
    [
        ("0", 998001), ("1", 982081), ("2", 984064), ("3", 986049),
        ("4", 988036), ("5", 990025), ("6", 992016), ("7", 994009),
        ("8", 996004),
    ]
)


def map_fcn(data):
    yield (str(int(data) % 9), int(data) ** 2)


def reduce_max(k, values):
    return (k, max(values))


def reduce_count_sum(k, values):
    return (k, len(values), sum(values))


@pytest.fixture(scope="module")
def int_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("mrdata")
    with_header = d / "file_with_header"
    without_header = d / "file_without_header"
    with_header.write_text("header\n" + "".join(f"{i}\n" for i in range(1000)))
    without_header.write_text("".join(f"{i}\n" for i in range(1000)))
    return str(with_header), str(without_header)


# --- the four reference goldens -------------------------------------------

def test_bulk_map_reduce(spark):
    """reference mapreduce_unittest.py:52-56 (3 mappers / 4 reducers,
    max_chunk_size=10 forces many chunks)."""
    out = MapReduceBulk(
        range(1000), map_fcn, reduce_max, 3, 4, max_chunk_size=10, spark=spark
    )
    assert sorted(out) == EXPECTED_MAX


def test_direct_equivalent(spark):
    """reference testMapReduceDirect (1 mapper / 10 reducers) —
    the raw-actor wiring test collapses to the same pipeline here."""
    out = MapReduceBulk(range(1000), map_fcn, reduce_max, 1, 10, spark=spark)
    assert sorted(out) == EXPECTED_MAX


def test_file_with_header(spark, int_files):
    """reference mapreduce_unittest.py:58-63."""
    with_header, _ = int_files
    out = MapReduceWithOneFileInput(
        with_header, map_fcn, reduce_max, 3, 4, ignore_first_line=True, spark=spark
    )
    assert sorted(out) == EXPECTED_MAX


def test_file_without_header(spark, int_files):
    """reference mapreduce_unittest.py:65-70 — the reference passes
    ignore_first_line=True on the headerless file too, silently
    dropping row 0; MAX hides it. We pin BOTH the reference's quirky
    call (same golden) and the correct call with a COUNT/SUM golden
    that would catch the dropped row (FIXTURES.md Group A2 note)."""
    _, without_header = int_files
    quirky = MapReduceWithOneFileInput(
        without_header, map_fcn, reduce_max, 3, 4, ignore_first_line=True, spark=spark
    )
    assert sorted(quirky) == EXPECTED_MAX  # max insensitive to losing 0

    correct = MapReduceWithOneFileInput(
        without_header, map_fcn, reduce_count_sum, 3, 4, spark=spark
    )
    by_key = {k: (n, s) for k, n, s in correct}
    assert sum(n for n, _ in by_key.values()) == 1000  # row 0 present
    assert by_key["0"][0] == 112  # 0,9,...,999 -> 112 members of class 0


# --- multi-file manifest ---------------------------------------------------

def test_multiple_files(spark, int_files, tmp_path):
    with_header, without_header = int_files
    # Use only the headerless file twice: every value counted twice.
    index = tmp_path / "index"
    index.write_text(f"{without_header}\n{without_header}\n")
    out = MapReduceWithMultipleFiles(
        str(index), map_fcn, reduce_count_sum, 2, 3, spark=spark
    )
    by_key = {k: (n, s) for k, n, s in out}
    assert sum(n for n, _ in by_key.values()) == 2000

    # Blank lines are skipped and surrounding spaces stripped.
    spaced = tmp_path / "index_spaced"
    spaced.write_text(f"\n  {without_header}  \n\n\t{without_header}\n   \n")
    again = MapReduceWithMultipleFiles(
        str(spaced), map_fcn, reduce_count_sum, 2, 3, spark=spark
    )
    assert sorted(again) == sorted(out)


def test_gzip_file_input(spark, tmp_path):
    """Compressed-file parity: the reference reads .gz transparently
    via smart_open (reference mapreduce.py:8, requirements.txt:2);
    Spark's textFile does the same via Hadoop codecs."""
    import gzip

    gz = tmp_path / "ints.txt.gz"
    with gzip.open(gz, "wt") as fh:
        fh.write("".join(f"{i}\n" for i in range(1000)))
    out = MapReduceWithOneFileInput(str(gz), map_fcn, reduce_max, 2, 3, spark=spark)
    assert sorted(out) == EXPECTED_MAX


# --- month-count workload (FIXTURES.md Group B) ----------------------------

def month_count_map(line):
    """Reference map fn shape (basic_mr_month_count.py:14-27): TSV,
    variant = word 1 of col 13, month = chars [0:7] of col 3; bad rows
    divert to sentinel keys."""
    cols = line.split("\t")
    try:
        variant = cols[13].split(" ")[1]
    except IndexError:
        yield ("no_variant", 1)
        return
    try:
        month = cols[3][:7]
    except IndexError:
        yield ("date_error", 1)
        return
    yield (variant + "\t" + month, 1)


def month_count_reduce(k, values):
    return "%s, %d" % (k, sum(values))


def test_month_count_tsv(spark, tmp_path):
    pad = ["x"] * 9  # cols 4..12
    rows = [
        "\t".join(["a", "b", "c", "2021-03-15"] + pad + ["name v1 extra"]),
        "\t".join(["a", "b", "c", "2021-03-02"] + pad + ["name v1"]),
        "\t".join(["a", "b", "c", "2021-04-01"] + pad + ["name v2"]),
        "\t".join(["a", "b", "c"]),                       # <14 cols -> no_variant
        "\t".join(["a", "b", "c", "2021-05-01"] + pad + ["loneword"]),  # <2 words -> no_variant
    ]
    f = tmp_path / "crawl.tsv"
    f.write_text("".join(r + "\n" for r in rows))
    out = MapReduceWithOneFileInput(
        str(f), month_count_map, month_count_reduce, 2, 2, spark=spark
    )
    assert sorted(out) == sorted(
        ["v1\t2021-03, 2", "v2\t2021-04, 1", "no_variant, 2"]
    )


# --- §4.3 invariants -------------------------------------------------------

def test_zero_and_multi_emit(spark):
    """Generator semantics: 0 or many pairs per record
    (reference mapreduce.py:16,36-38; docstring example)."""

    def gen(x):
        if x % 2:
            return  # zero-emit
        yield (str(x), x * x)
        yield (str(x), float(x) ** 0.5)  # multi-emit

    out = MapReduceBulk(range(10), gen, lambda k, vs: (k, sorted(vs)), 2, 2, spark=spark)
    assert len(out) == 5
    assert dict(out)["4"] == sorted([16, 2.0])


def test_holistic_reduce_sees_full_list(spark):
    """MEDIAN-class reduce works: the reduce fn gets the whole value
    list (reference mapreduce.py:132-133), not an algebraic fold."""

    def med(k, vs):
        vs = sorted(vs)
        return (k, vs[len(vs) // 2])

    out = MapReduceBulk(
        range(101), lambda x: iter([("all", x)]), med, 4, 3, spark=spark
    )
    assert out == [("all", 50)]


def test_strict_keys_rejects_non_str(spark):
    """Reference shipped-sharder contract: int keys raise
    (key.encode -> AttributeError, reference mapreduce.py:68-71)."""
    with pytest.raises(Exception, match="str keys"):
        MapReduceBulk(
            range(10),
            lambda x: iter([(x % 2, x)]),
            lambda k, vs: (k, max(vs)),
            2,
            2,
            spark=spark,
            strict_keys=True,
        )


def test_non_str_keys_allowed_by_default(spark):
    """Superset contract (SURVEY.md §1.2 resolution): any hashable key."""
    out = MapReduceBulk(
        range(10),
        lambda x: iter([((x % 2, "t"), x)]),
        lambda k, vs: (k, sum(vs)),
        2,
        2,
        spark=spark,
    )
    assert sorted(out) == [((0, "t"), 20), ((1, "t"), 25)]


# --- opt-in algebraic combiner mode ---------------------------------------

def combiner_max(a, b):
    return a if a >= b else b


def test_combiner_matches_holistic_golden(spark):
    """combiner= routes through reduceByKey (map-side partial agg);
    results must equal the holistic path on the reference golden."""
    out = MapReduceBulk(
        range(1000), map_fcn, reduce_max, 3, 4, max_chunk_size=10,
        spark=spark, combiner=combiner_max,
    )
    assert sorted(out) == EXPECTED_MAX


def test_combiner_file_input_matches(spark, int_files):
    _, without_header = int_files
    holistic = MapReduceWithOneFileInput(
        without_header, map_fcn, reduce_max, 3, 4, spark=spark
    )
    algebraic = MapReduceWithOneFileInput(
        without_header, map_fcn, reduce_max, 3, 4, spark=spark, combiner=combiner_max
    )
    assert sorted(algebraic) == sorted(holistic)


def test_combiner_sum(spark):
    """Associative sum through the combiner path, checked exactly."""
    out = MapReduceBulk(
        range(1000),
        lambda x: iter([(str(x % 7), x)]),
        lambda k, vs: (k, sum(vs)),
        4, 4, spark=spark,
        combiner=lambda a, b: a + b,
    )
    assert sorted(out) == sorted(
        (str(k), sum(x for x in range(1000) if x % 7 == k)) for k in range(7)
    )


# --- header skip: multi-split exactness + comma paths ----------------------

def test_header_skip_multi_split_file(spark, tmp_path):
    """A file spanning many input splits must still lose EXACTLY its
    first line: forces tiny splits via files.maxPartitionBytes and
    pins a COUNT/SUM golden that catches any dropped or duplicated
    row."""
    big = tmp_path / "big.txt"
    big.write_text("header\n" + "".join(f"{i}\n" for i in range(200_000)))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))  # ~20 splits
    try:
        from ray_mapreduce_spark.sources.text import read_text_lines

        df = read_text_lines(spark, str(big), ignore_first_line=True)
        assert df.rdd.getNumPartitions() > 1  # really multi-split
        vals = [int(r[0]) for r in df.collect()]
        assert len(vals) == 200_000
        assert sum(vals) == sum(range(200_000))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_manifest_path_with_comma(spark, tmp_path):
    """Paths containing commas must not be split (the reference opens
    each listed path verbatim)."""
    f = tmp_path / "weird,name.txt"
    f.write_text("".join(f"{i}\n" for i in range(100)))
    index = tmp_path / "index"
    index.write_text(f"{f}\n")
    out = MapReduceWithMultipleFiles(
        str(index), map_fcn, reduce_count_sum, 2, 3, spark=spark
    )
    assert sum(n for _, n, _ in out) == 100


def test_uri_scheme_passthrough(spark, tmp_path):
    """Sources accept full URIs, not just bare paths: any Hadoop
    filesystem scheme (file://, hdfs://, s3a://, gs://) passes through
    to the executor-side readers verbatim — the Spark counterpart of
    the reference's smart_open URI handling (reference mapreduce.py:8,
    requirements.txt:2). Exercised here with file:// (the only
    filesystem in this sandbox); remote schemes differ only by Hadoop
    connector jars + credentials conf."""
    f = tmp_path / "ints.txt"
    f.write_text("".join(f"{i}\n" for i in range(1000)))
    uri = f"file://{f}"
    out = MapReduceWithOneFileInput(uri, map_fcn, reduce_max, 2, 3, spark=spark)
    assert sorted(out) == EXPECTED_MAX

    from ray_mapreduce_spark.sources.text import read_text_lines

    assert read_text_lines(spark, uri).count() == 1000


def test_bulk_range_input_matches_list(spark):
    """r15 optimization: ``range`` inputs pass through to
    SparkContext.parallelize unconverted (its documented range fast
    path ships (start, stop, step) per partition instead of pickling
    every element through the driver). The result must be identical
    to the same data as a materialized list — including a stepped,
    offset range and both reduce paths (holistic + combiner)."""
    r = range(7, 1000, 3)
    out_range = MapReduceBulk(r, map_fcn, reduce_max, 3, 4, max_chunk_size=50, spark=spark)
    out_list = MapReduceBulk(list(r), map_fcn, reduce_max, 3, 4, max_chunk_size=50, spark=spark)
    assert sorted(out_range) == sorted(out_list)
    comb_range = MapReduceBulk(r, map_fcn, reduce_max, 3, 4, spark=spark, combiner=max)
    assert sorted(comb_range) == sorted(out_list)


def test_bulk_generator_input_matches_list(spark, monkeypatch):
    """r16 optimization: lazy/unsized iterables stream driver-side in
    buffers (one parallelize call per buffer, union'd in order)
    instead of materializing one full Python list. Results must match
    the list path exactly, with and without dataset_size, for both
    reduce paths, and for an empty generator — and so must the input
    partition count: the num_mappers floor and the 10,000 cap apply
    to both, also for a stream longer than one 100k-row buffer."""
    import ray_mapreduce_spark.mapreduce as mr

    def parts(data, *args, **kw):
        # count the input partitions MapReduceBulk hands to _run
        # without running the job (the cap case would be 10,000 tasks)
        with monkeypatch.context() as m:
            m.setattr(mr, "_run", lambda rdd, *a: rdd.getNumPartitions())
            return MapReduceBulk(data, map_fcn, reduce_max, *args, spark=spark, **kw)

    cases = [
        # one buffer; floor binds (ceil(496/1000) = 1 chunk < 4 mappers)
        (range(5, 997, 2), (4, 4), {}, 4),
        # three buffers; floor binds (5 chunks of 50k < 8 mappers)
        (range(250_000), (8, 4), {"max_chunk_size": 50_000}, 8),
        (range(250_000), (8, 4), {"max_chunk_size": 50_000, "dataset_size": 250_000}, 8),
        (range(250_000), (3, 4), {"max_chunk_size": 20_000}, 13),
        # cap: one partition per 1-row chunk, at most 10,000
        (range(20_000), (3, 4), {"max_chunk_size": 1}, 10_000),
        (range(250_000), (3, 4), {"max_chunk_size": 10}, 10_000),
    ]
    for data, args, kw, want in cases:
        assert parts(list(data), *args, **kw) == want, (args, kw)
        assert parts(iter(data), *args, **kw) == want, (args, kw)

    vals = list(range(5, 997, 2))
    out_list = MapReduceBulk(vals, map_fcn, reduce_max, 3, 4, max_chunk_size=50, spark=spark)
    out_gen = MapReduceBulk(
        (v for v in vals), map_fcn, reduce_max, 3, 4, max_chunk_size=50, spark=spark
    )
    assert sorted(out_gen) == sorted(out_list)
    out_gen_sized = MapReduceBulk(
        (v for v in vals), map_fcn, reduce_max, 3, 4, max_chunk_size=50,
        dataset_size=len(vals), spark=spark,
    )
    assert sorted(out_gen_sized) == sorted(out_list)
    comb_gen = MapReduceBulk(
        (v for v in vals), map_fcn, reduce_max, 3, 4, max_chunk_size=50,
        spark=spark, combiner=max,
    )
    assert sorted(comb_gen) == sorted(out_list)
    assert MapReduceBulk(iter(()), map_fcn, reduce_max, 3, 4, spark=spark) == []


# --- empty inputs ----------------------------------------------------------

def test_empty_inputs_return_empty_list(spark, tmp_path):
    """Every entry point returns [] on an input with no records: an
    empty list, a header-only file read with ``ignore_first_line``, an
    empty file, and an empty multi-file index."""
    assert MapReduceBulk([], map_fcn, reduce_max, 3, 4, spark=spark) == []

    header_only = tmp_path / "header_only"
    header_only.write_text("header\n")
    assert MapReduceWithOneFileInput(
        str(header_only), map_fcn, reduce_max, 3, 4, ignore_first_line=True, spark=spark
    ) == []

    empty = tmp_path / "empty"
    empty.write_text("")
    assert MapReduceWithOneFileInput(str(empty), map_fcn, reduce_max, 3, 4, spark=spark) == []

    index = tmp_path / "index"
    index.write_text("")
    assert MapReduceWithMultipleFiles(str(index), map_fcn, reduce_max, 2, 3, spark=spark) == []


# --- task retries and worker crashes ----------------------------------------

_RETRY_SCRIPT = '''
import os, sys
sys.path.insert(0, sys.argv[1])
from pyspark import TaskContext
from ray_mapreduce_spark.mapreduce import MapReduceBulk
from ray_mapreduce_spark.session import get_spark

def map_fcn(x):
    yield (str(x % 9), x * x)

def raise_on_first_attempt(x):
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("planted failure on attempt 0")
    yield from map_fcn(x)

def exit_on_first_attempt(x):
    if TaskContext.get().attemptNumber() == 0:
        os._exit(1)  # the Python worker dies mid-task
    yield from map_fcn(x)

def reduce_count_max(k, values):
    return (k, len(values), max(values))

spark = get_spark("shim-retries", cpus=4, extra_conf={"spark.master": "local[4,3]"})
spark.sparkContext.setLogLevel("OFF")
def run(fn):
    return sorted(MapReduceBulk(range(1000), fn, reduce_count_max, 4, 4, max_chunk_size=100, spark=spark))
clean = run(map_fcn)
print("CLEAN", clean)
for fn in (raise_on_first_attempt, exit_on_first_attempt):
    print(fn.__name__, run(fn) == clean)
spark.stop()
'''


def test_shim_survives_task_retries_and_worker_crashes(tmp_path):
    """On ``local[4,3]`` (3 attempts per task) a map fn that raises, or
    kills its Python worker, on every task's first attempt gives the
    clean run's output: Spark retries the task and the worker daemon
    forks a fresh worker. Own process: the shared session allows no
    retries."""
    script = tmp_path / "retries.py"
    script.write_text(_RETRY_SCRIPT)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, str(script), repo], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    expected = [(str(r), len(range(r, 1000, 9)), max(range(r, 1000, 9)) ** 2) for r in range(9)]
    assert f"CLEAN {expected}" in lines
    assert "raise_on_first_attempt True" in lines
    assert "exit_on_first_attempt True" in lines


# --- one hot key ------------------------------------------------------------

_HOT_KEY_SCRIPT = '''
import resource, sys, time
sys.path.insert(0, sys.argv[1])
from ray_mapreduce_spark.mapreduce import MapReduceBulk
from ray_mapreduce_spark.session import get_spark

N = 2_000_000

def map_fcn(x):
    yield ("hot", x)

def reduce_fcn(k, values):
    peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB on Linux
    return (k, len(values), sum(values), peak_kb)

spark = get_spark("shim-hot-key", cpus=4, extra_conf={"spark.master": "local[4,3]"})
spark.sparkContext.setLogLevel("OFF")
t0 = time.time()
out = MapReduceBulk(range(N), map_fcn, reduce_fcn, 4, 4, max_chunk_size=100_000, spark=spark)
print("WALL", round(time.time() - t0, 2))
print("RESULT", [r[:3] for r in out])
print("PEAK_RSS_MB", round(out[0][3] / 1024))
spark.stop()
'''


def test_shim_single_hot_key_two_million_values(tmp_path):
    """Every one of 2,000,000 records maps to ONE key: the holistic
    reduce receives the whole 2M-value list in one Python worker and
    must still return the right count and sum on ``local[4,3]``. Prints
    the wall time and the reduce worker's peak RSS (MIGRATION.md
    records them as the shim's measured hot-key ceiling)."""
    script = tmp_path / "hot_key.py"
    script.write_text(_HOT_KEY_SCRIPT)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, str(script), repo], capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    n = 2_000_000
    assert f"RESULT {[('hot', n, n * (n - 1) // 2)]}" in proc.stdout.splitlines()
    print(*[l for l in proc.stdout.splitlines() if l.startswith(("WALL", "PEAK_RSS_MB"))])
