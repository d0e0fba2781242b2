#!/usr/bin/env python
"""Round-audit sweeps beyond the driver's gate (CLAUDE.md gotcha #13).

Usage:
    python tools/audit_sweep.py oracle [SF_DIR] [--changed-only]
    python tools/audit_sweep.py determinism [SF_DIR] [--changed-only]
    python tools/audit_sweep.py recall [SF_DIR]
    python tools/audit_sweep.py plans [SF_DIR] --out FILE [--against FILE]
    python tools/audit_sweep.py shapes [SF_DIR]
    python tools/audit_sweep.py dups

- ``oracle``: compare every oracle-paired query against DuckDB at
  SF_DIR (default sf0.1 — 10x the driver's scale; ties and rounding
  boundaries only appear with more data).
- ``determinism``: run EVERY registered query twice with different
  shuffle-partition settings and require identical sorted results
  (catches min_by-style ties, unordered limits, partition-id leaks).
- ``recall``: run the extension quality gates
  (``tests/test_extensions.py``: recall and exactness contracts of the
  rows-only LSH/sketch queries) at SF_DIR instead of the test default.

- ``plans``: for EVERY registered query record four sha256 digests
  — the oracle text, the analyzed logical plan with expression ids
  (``#N``) and PySpark lambda-variable suffixes (``x_79``) renumbered
  by first appearance, the sorted collected rows, and the oracle's
  sorted DuckDB rows at the same SF_DIR (``oracle_output``: a
  refactored oracle text must still return the same rows) — as JSON
  in ``--out``. ``--against`` compares with an earlier file and names
  every query whose digests differ. The output digest is needed as
  well as the plan digest: an eager ``localCheckpoint`` frame shows
  up in the analyzed plan as a bare ``LogicalRDD`` leaf, which hides
  the code that built it.

- ``shapes``: rewrite the plan-shape ledger ``tests/plan_shapes.json``
  as ``{"sf_dir": SF_DIR, "queries": {name: shape}}``, with the
  ``testing.plan_shape`` of EVERY registered query, each built on
  ``session.get_spark`` with a cleared cache. SF_DIR defaults to the
  one the ledger already records. ``tests/test_plan_shapes.py``
  recomputes the ledger at that SF_DIR and fails on any difference,
  so regenerate it in the change that moves a plan.

- ``dups``: print the package's repeated-line count (ROADMAP item
  5): over windows of 6 consecutive stripped lines of each module
  (blank lines, comment lines and lines under 4 characters skipped),
  the number of lines covered by a window whose text occurs 2+ times
  anywhere in the package. Needs no Spark session.

Each prints one summary line; non-empty failure lists exit 1.

``--changed-only`` skips queries whose plan hash already passed this
mode+SF in ``tools/.sweep_cache.json``. Since r9 the hash covers the
builder's whole module PLUS its transitive `from .X import` sibling
plans modules PLUS a shared digest over every non-plans package
module (sources/, operators/, functions/, streaming/, ...), so
loader/helper edits invalidate dependents and closing sweeps may use
the flag. Still conservative: any module edit re-runs all its
dependent queries.

Both sweeps release persisted caches between queries
(testing.release_caches) and report the peak cached-block footprint —
without the release, a full-registry session accumulates every
query's persisted corpus until LRU eviction.
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

_CACHE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".sweep_cache.json")
_LEDGER_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "plan_shapes.json"
)


def _package_sources(source_overrides: dict | None = None) -> dict:
    """Package-relative path -> source of every package module, with
    ``source_overrides`` (path -> replacement source) applied."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "ray_mapreduce_spark"
    srcs = {p.relative_to(pkg).as_posix(): p.read_text() for p in sorted(pkg.rglob("*.py"))}
    srcs.update(source_overrides or {})
    return srcs


_DUP_WINDOW = 6


def repeated_lines(source_overrides: dict | None = None) -> int:
    """The ``dups`` count: package lines covered by a ``_DUP_WINDOW``-line
    window (stripped; blank, comment and under-4-character lines
    skipped) whose text occurs at least twice in the package."""
    where: dict = {}
    for rel, text in _package_sources(source_overrides).items():
        kept = [
            (i, s)
            for i, line in enumerate(text.splitlines(), 1)
            if len(s := line.strip()) >= 4 and not s.startswith("#")
        ]
        for j in range(len(kept) - _DUP_WINDOW + 1):
            win = kept[j : j + _DUP_WINDOW]
            where.setdefault(tuple(s for _, s in win), []).append((rel, win))
    covered = {
        (rel, i)
        for occurrences in where.values()
        if len(occurrences) > 1
        for rel, win in occurrences
        for i, _ in win
    }
    return len(covered)


def _plan_hashes(source_overrides: dict | None = None) -> dict:
    """name -> sha256 over (every non-plans package module, the
    builder's plans module + its TRANSITIVE sibling plans imports,
    oracle SQL).

    r9 (VERDICT r8 #4): the r8 key hashed only the builder module +
    oracle, blind to sources//operators//functions//streaming/ helper
    edits AND to cross-plans-module helpers (text_analysis pulls
    the shingle SQL from dedup; graph->similarity->dedup).
    Now a shared digest over all non-plans modules is mixed into
    every key and `from .X import` sibling edges are followed
    transitively, so a helper edit invalidates its dependents and
    closing sweeps may use --changed-only safely.

    ``source_overrides`` maps package-relative paths (e.g.
    ``sources/__init__.py``) to replacement source — test hook."""
    from ray_mapreduce_spark.plans import all_queries

    srcs = _package_sources(source_overrides)

    shared = hashlib.sha256()
    for rel in sorted(srcs):
        if not rel.startswith("plans/"):
            shared.update(rel.encode())
            shared.update(srcs[rel].encode())
    shared_digest = shared.digest()

    sib = {
        rel: set(re.findall(r"from \.(\w+) import", srcs[rel]))
        for rel in srcs
        if rel.startswith("plans/")
    }

    def closure(base: str) -> list:
        seen: set = set()
        todo = {base}
        while todo:
            m = todo.pop()
            if m in seen:
                continue
            seen.add(m)
            todo |= sib.get(f"plans/{m}.py", set())
        return sorted(seen)

    out = {}
    for name, spec in all_queries().items():
        base = spec.builder.__module__.rsplit(".", 1)[-1]
        h = hashlib.sha256()
        h.update(shared_digest)
        for m in closure(base):
            h.update(srcs.get(f"plans/{m}.py", "").encode())
        h.update((spec.oracle or "").encode())
        out[name] = h.hexdigest()
    return out


def _cache_load() -> dict:
    try:
        with open(_CACHE_PATH) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _cache_store(cache: dict) -> None:
    with open(_CACHE_PATH, "w") as f:
        json.dump(cache, f, indent=0, sort_keys=True)


class _Hygiene:
    """Between-query cache release + peak-storage telemetry."""

    def __init__(self, spark):
        self.spark = spark
        self.peak_mem = 0
        self.peak_disk = 0

    def after_query(self):
        from ray_mapreduce_spark.testing import release_caches, storage_bytes

        mem, disk = storage_bytes(self.spark)
        self.peak_mem = max(self.peak_mem, mem)
        self.peak_disk = max(self.peak_disk, disk)
        release_caches(self.spark)

    def report(self) -> str:
        return (
            f"peak cached storage {self.peak_mem/1e6:.0f} MB mem"
            f" / {self.peak_disk/1e6:.0f} MB disk (released per query)"
        )


def _spark():
    s = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def oracle_sweep(sf_dir: str, changed_only: bool = False) -> int:
    import __spark_entry__ as mod
    from ray_mapreduce_spark.testing import compare_query

    spark = _spark()
    q, o = mod.queries(), mod.oracle_sql()
    hashes = _plan_hashes()
    cache = _cache_load()
    ckey = f"oracle@{sf_dir}"
    done = cache.get(ckey, {})
    bad = []
    skipped = 0
    hyg = _Hygiene(spark)
    t0 = time.time()
    for n in sorted(o):
        if changed_only and done.get(n) == hashes[n]:
            skipped += 1
            continue
        r = compare_query(spark, n, q[n], o[n], sf_dir)
        if not r.ok:
            bad.append((n, r.detail[:150]))
            done.pop(n, None)
        else:
            done[n] = hashes[n]
        print(f"# {n}: {'ok' if r.ok else 'MISMATCH'}", file=sys.stderr)
        hyg.after_query()
        cache[ckey] = done
        _cache_store(cache)
    print(
        f"oracle sweep @ {sf_dir}: {len(o)} queries ({skipped} unchanged-skipped), "
        f"mismatches: {bad or 'none'}, {time.time()-t0:.0f}s; {hyg.report()}"
    )
    return 1 if bad else 0


def determinism_sweep(sf_dir: str, changed_only: bool = False) -> int:
    import __spark_entry__ as mod

    spark = _spark()
    q = mod.queries()
    hashes = _plan_hashes()
    cache = _cache_load()
    ckey = f"determinism@{sf_dir}"
    done = cache.get(ckey, {})
    bad = []
    skipped = 0
    hyg = _Hygiene(spark)
    t0 = time.time()
    for n in sorted(q):
        if changed_only and done.get(n) == hashes[n]:
            skipped += 1
            continue
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = sorted(map(tuple, q[n](spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = sorted(map(tuple, q[n](spark, sf_dir).collect()))
        if a != b:
            bad.append(n)
            done.pop(n, None)
        else:
            done[n] = hashes[n]
        print(f"# {n}: {'ok' if a == b else 'NONDETERMINISTIC'}", file=sys.stderr)
        hyg.after_query()
        cache[ckey] = done
        _cache_store(cache)
    print(
        f"determinism sweep @ {sf_dir}: {len(q)} queries ({skipped} unchanged-skipped), "
        f"nondeterministic: {bad or 'none'}, {time.time()-t0:.0f}s; {hyg.report()}"
    )
    return 1 if bad else 0


_EXPR_ID = re.compile(r"#\d+")
_LAMBDA_DEF = re.compile(r"lambda ([A-Za-z_]\w*?_\d+)\b")


def normalized_plan(df) -> str:
    """``df``'s analyzed logical plan with session-global counters
    renumbered by first appearance: expression ids ``#N`` and the
    ``_N`` suffix PySpark gives each lambda variable. Two builds of
    the same query then yield the same text."""
    text = df._jdf.queryExecution().analyzed().toString()
    ids: dict = {}
    text = _EXPR_ID.sub(lambda m: "#" + str(ids.setdefault(m.group(), len(ids))), text)
    lambdas: dict = {}
    for name in _LAMBDA_DEF.findall(text):
        lambdas.setdefault(name, f"{name.rsplit('_', 1)[0]}_{len(lambdas)}")
    if lambdas:
        pattern = re.compile(r"\b(" + "|".join(map(re.escape, lambdas)) + r")\b")
        text = pattern.sub(lambda m: lambdas[m.group()], text)
    return text


def oracle_rows(oracle: str | None, sf_dir: str) -> list:
    """The oracle's DuckDB rows at ``sf_dir`` as sorted reprs; empty
    for a rows-only query (no oracle)."""
    from ray_mapreduce_spark.testing import duckdb_connection

    if not oracle:
        return []
    con = duckdb_connection(sf_dir)
    try:
        return sorted(repr(tuple(r)) for r in con.execute(oracle).fetchall())
    finally:
        con.close()


def query_digests(spark, spec, sf_dir: str) -> dict:
    """Oracle-text, normalized-plan, sorted-output and sorted
    oracle-output sha256 digests."""

    def sha(text: str) -> str:
        return hashlib.sha256(text.encode()).hexdigest()

    df = spec.builder(spark, sf_dir)
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return {
        "oracle": sha(spec.oracle or ""),
        "plan": sha(normalized_plan(df)),
        "output": sha("\n".join(rows)),
        "oracle_output": sha("\n".join(oracle_rows(spec.oracle, sf_dir))),
    }


def plans_sweep(sf_dir: str, out: str, against: str | None = None) -> int:
    from ray_mapreduce_spark.plans import all_queries

    spark = _spark()
    hyg = _Hygiene(spark)
    t0 = time.time()
    digests = {}
    for name, spec in sorted(all_queries().items()):
        digests[name] = query_digests(spark, spec, sf_dir)
        print(f"# {name}: {digests[name]['plan'][:12]}", file=sys.stderr)
        hyg.after_query()
    with open(out, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    summary = f"plans @ {sf_dir}: {len(digests)} queries -> {out}, {time.time()-t0:.0f}s"
    if against is None:
        print(summary)
        return 0
    with open(against) as f:
        before = json.load(f)
    bad = []
    for name in sorted(set(before) | set(digests)):
        a, b = before.get(name), digests.get(name)
        if a is None or b is None:
            bad.append(f"{name} ({'added' if a is None else 'removed'})")
        elif a != b:
            bad.append(f"{name} ({', '.join(k for k in sorted(a) if a[k] != b.get(k))})")
    same = sum(1 for n in digests if before.get(n) == digests[n])
    print(
        f"{summary}; {same}/{len(digests)} identical oracle+plan+output+oracle_output vs {against},"
        f" differing: {bad or 'none'}"
    )
    return 1 if bad else 0


def query_shapes(spark, sf_dir: str) -> dict:
    """name -> ``plan_shape`` for every registered query, each built
    on a cleared cache: Spark substitutes a cached fragment left by an
    earlier query into the plan, which would change its shape."""
    from ray_mapreduce_spark.plans import all_queries
    from ray_mapreduce_spark.testing import plan_shape

    shapes = {}
    for name, spec in sorted(all_queries().items()):
        spark.catalog.clearCache()
        shapes[name] = plan_shape(spec.builder(spark, sf_dir))
    spark.catalog.clearCache()
    return shapes


def _ledger() -> dict:
    with open(_LEDGER_PATH) as f:
        return json.load(f)


def shapes_ledger(sf_dir: str) -> int:
    from ray_mapreduce_spark.session import get_spark

    spark = get_spark("audit-shapes")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    shapes = query_shapes(spark, sf_dir)
    with open(_LEDGER_PATH, "w") as f:
        json.dump({"sf_dir": sf_dir, "queries": shapes}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"shapes @ {sf_dir}: {len(shapes)} queries -> {_LEDGER_PATH}, {time.time()-t0:.0f}s")
    return 0


def recall_sweep(sf_dir: str) -> int:
    """Run the extension quality gates (tests/test_extensions.py —
    recall/exactness contracts for every rows-only LSH/sketch query)
    at ``sf_dir`` instead of the default test sf. The two-scale-factor
    evidence (default sf0.001 via pytest, sf0.1 via this sweep) is
    what keeps the rows-only queries honest (VERDICT r5 #5)."""
    import subprocess

    env = dict(os.environ, SPARK_GRAFT_TEST_SF_DIR=sf_dir)
    t0 = time.time()
    rc = subprocess.call(
        [sys.executable, "-m", "pytest", "tests/test_extensions.py", "-q"],
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    print(f"recall sweep @ {sf_dir}: rc={rc}, {time.time()-t0:.0f}s")
    return rc


def _option(args: list, flag: str) -> str | None:
    if flag not in args:
        return None
    i = args.index(flag)
    value = args[i + 1]
    del args[i : i + 2]
    return value


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--changed-only"]
    out, against = _option(args, "--out"), _option(args, "--against")
    changed_only = "--changed-only" in sys.argv[1:]
    mode = args[0] if args else "oracle"
    if mode == "dups":
        print(f"# repeated lines ({_DUP_WINDOW}-line windows): {repeated_lines()}")
        sys.exit(0)
    if mode == "shapes":
        sys.exit(shapes_ledger(args[1] if len(args) > 1 else _ledger()["sf_dir"]))
    sf = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    if mode == "recall":
        sys.exit(recall_sweep(sf))
    if mode == "plans":
        if out is None:
            sys.exit("plans mode needs --out FILE")
        sys.exit(plans_sweep(sf, out, against))
    fns = {"oracle": oracle_sweep, "determinism": determinism_sweep}
    sys.exit(fns[mode](sf, changed_only))
