"""Map and reduce functions of the ``mapreduce_etl`` shim jobs.

They live in their own module, importable by name, so Spark's Python
workers unpickle them by reference. ``reference`` is the single-process
Python evaluation every shim job's output is checked against.
"""

from __future__ import annotations

import time
from collections import defaultdict


def mod9_square(x):
    """The reference unit-test job's map (bench.py's 2M-record job)."""
    yield (str(x % 9), x * x)


def max_reduce(k, vs):
    return (k, max(vs))


def skew_pair(x):
    """About half the values land on the one hot key."""
    yield ("hot" if x % 2 == 0 else "k%d" % (x % 251), x)


def spread_reduce(k, vs):
    """Holistic: needs the whole value list at once."""
    s = sorted(vs)
    return (k, len(s), s[len(s) // 2], s[-1] - s[0])


def reference(records, map_fcn, reduce_fcn) -> list:
    groups: dict = defaultdict(list)
    for r in records:
        for k, v in map_fcn(r):
            groups[k].append(v)
    return [reduce_fcn(k, vs) for k, vs in groups.items()]


def python_single_process_s(n_rec: int = 2_000_000) -> float:
    """bench.py's ``python_single_process`` loop, timed: a fixed pure
    Python workload used as a CPU contention probe."""
    t0 = time.perf_counter()
    out = reference(range(n_rec), mod9_square, max_reduce)
    elapsed = time.perf_counter() - t0
    if len(out) != 9:
        raise RuntimeError("contention probe produced a wrong result")
    return elapsed
