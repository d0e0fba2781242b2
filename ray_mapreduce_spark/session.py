"""SparkSession construction with scale-appropriate defaults.

The reference exposes two integer knobs (num_mappers / num_reducers,
reference mapreduce.py:139,151-152) and keeps all intermediates in
memory. Here the equivalents are read-partition sizing + shuffle
partitions, and Spark's spillable sort-based shuffle replaces the
in-memory buffers — so the same queries survive a 1000-executor /
100 TB deployment without code changes.

Conf rationale (tuned for correctness at local[32] and sanity at
cluster scale — every value is either Spark's scale-safe default or
an explicit override documented below):

- AQE on (+ coalescing + skew-join): at 100 TB, static shuffle
  partition counts are always wrong somewhere; AQE re-plans from
  runtime stats and splits skewed partitions.
- ``spark.sql.shuffle.partitions``: a floor for local runs; AQE
  coalesces down / splits up as needed. On a real cluster set this
  ~2-3x total cores via spark-submit; we keep it equal to local cores.
- Arrow enabled: every pandas-UDF path (dedup simhash, multimodal
  decode) transfers columnar Arrow batches, not pickled rows.
- Broadcast threshold left at default 10 MB: region/nation/supplier
  style dims broadcast automatically; query code adds explicit
  ``broadcast()`` hints where the dim is known-small regardless of
  stats (e.g. derived query-vector sets).

Python worker confs (they cut the fixed cost of every Python task:
shim jobs, pandas UDFs, Arrow ``createDataFrame``; a one-partition
Python RDD job drops from ~80 ms to ~25 ms on 4 cores):

- ``spark.python.daemon.module`` = ``ray_mapreduce_spark.worker_daemon``:
  Spark's daemon, plus a patch that stops every task re-reading
  ``pyspark.zip``'s directory on Python < 3.13 (see that module).
- ``spark.python.unix.domain.socket.enabled`` (only where
  ``socket.AF_UNIX`` exists): JVM<->worker traffic over a Unix socket.
  On TCP each task stalls ~40 ms in the worker's first ``read``; the
  size fits Nagle's algorithm meeting delayed ACK. Neither fix helps
  much alone: with the zip patch only, tasks still stall; with the
  socket only, they still burn the CPU.
- ``spark.python.unix.domain.socket.dir`` = ``/tmp``: the default is
  ``java.io.tmpdir``, which a harness may put deep in a checkout. A
  socket path over the 107-byte AF_UNIX limit fails the session at
  start with ``OSError: AF_UNIX path too long``. A process that exits
  without ``spark.stop()`` leaves its ``.sock`` file behind in
  ``/tmp``; that is Spark's own behaviour.
- ``spark.executorEnv.PYTHONPATH`` gets this package's parent
  directory, joined with any value in ``extra_conf``, so workers can
  import the daemon module when the driver runs from another cwd.
  Without it every Python task fails with ``No module named
  'ray_mapreduce_spark'``.

Generated-class cache: ``spark.sql.codegen.cache.maxEntries`` =
``CODEGEN_CACHE_ENTRIES`` (Spark's default is 100). Every stage runs
as Janino-compiled whole-stage code, and the compiled classes live in
one LRU cache. A plan shape pays its compile once only while the
classes of a repeated pass fit that cache; past it, each pass evicts
classes before their next use and recompiles them. Distinct classes
per pass, measured on 4 cores: ``perfbench`` ``analytics`` 121,
``mapreduce_etl`` 31, the 14 ``bench=True`` headline queries 262 at
sf0.001 and 265 at sf0.1. The rule: the cap holds the headline pass
with at least 2x headroom (1000 gives 3.8x). At cap 100 a warm
headline pass at sf0.1 recompiled 315 classes and took 8.1 s; at 1000
it compiled none and took 4.4 s. (AQE can still plan a query two ways
from run to run, such as a self-join's build side; each new plan
compiles its classes once.) A 334-query registry sweep at sf0.001
(caches cleared after each query, 4 cores) does not fit either cap
and need not, since it runs each query once; after GC it held heap
153 MB and non-heap 323 MB at cap 100 (6,411 compiles, 100 s), and
182 MB and 336 MB at cap 1000 (4,606 compiles, 95 s). The conf is
static: Spark reads it once per JVM, at the first compile, so it only
takes effect when ``get_spark`` creates the JVM's first session.

``extra_conf`` overrides any conf set here; a
``spark.executorEnv.PYTHONPATH`` value is joined to the package's
parent rather than replacing it. A vanilla session (one not built
here) keeps Spark's defaults, the 100-class cap included, and works
unchanged.
"""

from __future__ import annotations

import os
import socket

from pyspark.sql import SparkSession

# Local cores: the CPUs this process may run on (all cores where the
# platform has no affinity call, e.g. macOS) unless SPARK_GRAFT_CPUS
# overrides it for a deployment.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS")
    or (len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count())
)
CODEGEN_CACHE_ENTRIES = 1000
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "ray_mapreduce_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", "ray_mapreduce_spark.worker_daemon")
    )
    if hasattr(socket, "AF_UNIX"):
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", "/tmp"
        )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        filter(None, [_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")])
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
