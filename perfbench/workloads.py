"""The two benchmark workloads, as lists of timed operations.

A workload generates its inputs once (untimed), then hands the runner
one list of operations per pass. Each operation runs the program
through its public API and returns an output that ``check`` compares
against an expected value computed without the engine under test.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow.parquet as pq

import inputs
import jobs
import tracing

# Headline (QuerySpec.bench=True) queries timed by ``analytics``, plus
# dedup_clusters_exact. That one runs the connected-components operator
# of the headline pipeline_clean_corpus: its label-propagation rounds
# and eager checkpoints run inside the builder, so it is the query that
# moves plans.build_jobs and storage.retained_mb. The other headline
# queries are left out to fit the run budget: see README.md,
# "Workloads, and why these".
ANALYTICS_QUERIES = (
    "month_count",
    "q5_local_supplier_revenue",
    "window_topk_per_customer",
    "asof_join_last_click",
    "dedup_clusters_exact",
)
# The reference API's MapReduceBulk over a range and over a list with
# a skewed holistic reduce. The combiner, generator-input, file-header
# and multi-file jobs are left out to fit the run budget: README.md.
SHIM_JOBS = ("bulk_holistic", "skewed_key")


@dataclass
class Op:
    name: str
    run: Callable[[Any, int], Any]  # (tracer, pass_no) -> output
    check: Callable[[Any], bool]


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """A result as the oracle gate compares it: columns sorted by
    name, values normalized, rows sorted."""
    from ray_mapreduce_spark.testing import _norm_row, _sort_key

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        [columns[i] for i in order],
        sorted((_norm_row(tuple(r[i] for i in order)) for r in rows), key=_sort_key),
    )


def same_result(got, want) -> bool:
    """Exact equality of two canonical results, with the oracle gate's
    value comparison (typed, every float bit, signed zero)."""
    from ray_mapreduce_spark.testing import _values_equal

    (got_cols, got_rows), (want_cols, want_rows) = got, want
    return (
        got_cols == want_cols
        and len(got_rows) == len(want_rows)
        and all(
            _values_equal(a, b) for gr, wr in zip(got_rows, want_rows) for a, b in zip(gr, wr)
        )
    )


def _sorted_output(out) -> list:
    return sorted(out, key=repr)


def clusters_exact_reference(sf_dir: str) -> tuple[list[str], list[tuple]]:
    """dedup_clusters_exact's oracle SQL evaluated in plain Python:
    same-language pairs whose distinct 3-word shingle sets have a
    Jaccard of at least the threshold, then each paired document with
    the smallest document id it reaches. DuckDB's recursive closure
    takes ~8 s here, a large share of a run; this takes well under one."""
    from ray_mapreduce_spark.plans.dedup import JACCARD_THRESHOLD, SHINGLE_K

    docs = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "lang", "text"]
    ).to_pydict()
    by_lang: dict[str, list] = defaultdict(list)
    for doc, lang, text in zip(docs["doc_id"], docs["lang"], docs["text"]):
        toks = text.lower().split(" ")
        if len(toks) >= SHINGLE_K:
            by_lang[lang].append(
                (doc, {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
            )
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        while parent[x] != x:
            x = parent[x]
        return x

    for group in by_lang.values():
        for i, (a, sa) in enumerate(group):
            for b, sb in group[i + 1 :]:
                common = len(sa & sb)
                if common / (len(sa) + len(sb) - common) >= JACCARD_THRESHOLD:
                    parent.setdefault(a, a)
                    parent.setdefault(b, b)
                    ra, rb = root(a), root(b)
                    parent[max(ra, rb)] = min(ra, rb)
    return canonical(["doc_id", "cluster"], [(d, root(d)) for d in parent])


class Analytics:
    """Headline queries over seeded TPC-H-style tables; each query's
    output must equal its DuckDB oracle SQL's on the same files,
    compared as the strict oracle gate compares them."""

    # Fixed from pass curves on a 4-core box. A pass here is short, so
    # the JIT needs more of them (README.md, "Warm-up").
    warmup_passes = 4
    measured_passes = 3

    def __init__(self, spark, work_dir: str, seed: int, sf: float):
        from ray_mapreduce_spark.plans import all_queries
        from ray_mapreduce_spark.testing import duckdb_connection

        self.spark, self.seed = spark, seed
        self.sf_dir = os.path.join(work_dir, "tables")
        inputs.write_tables(seed, sf, self.sf_dir)
        registry = all_queries()
        self.specs = [registry[n] for n in ANALYTICS_QUERIES]
        self.expected = {"dedup_clusters_exact": clusters_exact_reference(self.sf_dir)}
        con = duckdb_connection(self.sf_dir)
        try:
            for spec in self.specs:
                if spec.name in self.expected:
                    continue
                tbl = con.execute(spec.oracle).fetch_arrow_table()
                cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
                self.expected[spec.name] = canonical(tbl.schema.names, list(zip(*cols)))
        finally:
            con.close()

    @staticmethod
    def traced_layers() -> list[str]:
        """Per-layer metrics a traced run of this workload must emit."""
        names = [
            "session.get_spark_s", "sources.load_table_first_s", "sources.load_table_cached_s",
            "plans.build_s", "plans.build_jobs", "catalyst.plan_s", "storage.retained_mb",
            "trace.warm_pass_s", *tracing.EXEC_LAYERS,
        ]
        for q in ANALYTICS_QUERIES:
            names += [f"{layer}.{q}" for layer in ("build_s", "jobs", "plan_s", "collect_s")]
        return names

    def _op(self, spec) -> Op:
        def run(tr, p):
            with tr.phase(p, spec.name, "build"):
                df = spec.builder(self.spark, self.sf_dir)
            if tr.enabled:
                with tr.phase(p, spec.name, "plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.phase(p, spec.name, "collect"):
                rows = df.collect()
            return df.columns, rows

        def check(out):
            return same_result(canonical(*out), self.expected[spec.name])

        return Op(spec.name, run, check)

    def ops(self, pass_no: int) -> list[Op]:
        specs = list(self.specs)
        random.Random(self.seed * 1_000_003 + pass_no).shuffle(specs)
        return [self._op(s) for s in specs]

    def end_pass(self) -> None:
        from ray_mapreduce_spark.testing import release_caches

        release_caches(self.spark)

    def load_table_probe(self) -> tuple[float, float]:
        """Seconds to load all ten tables the first time in this
        process (schema inference) and then again (cached schema)."""
        from ray_mapreduce_spark.sources import TABLE_NAMES, load_table

        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            for name in TABLE_NAMES:
                load_table(self.spark, self.sf_dir, name)
            times.append(time.perf_counter() - t0)
        return times[0], times[1]


class MapReduceEtl:
    """The reference MapReduce API over seeded inputs, then a
    write / merge / compact / read-back cycle through the sinks."""

    # Fixed from pass curves on a 4-core box (README.md, "Warm-up").
    warmup_passes = 2
    measured_passes = 3

    def __init__(self, spark, work_dir: str, seed: int, sf: float):
        self.spark = spark
        n_bulk = max(1000, int(20_000_000 * sf))  # sf 0.1: bench.py's 2M records
        start = seed % 1000 * 1000
        self.bulk = range(start, start + n_bulk)
        self.skew_values = inputs.int_values(seed, 6, n_bulk // 2)
        self.etl_dir = os.path.join(work_dir, "etl")
        self.etl_expected = inputs.write_etl_inputs(
            seed, max(500, int(2_000_000 * sf)), self.etl_dir
        )
        ref = jobs.reference
        self.expected = {
            "bulk_holistic": ref(self.bulk, jobs.mod9_square, jobs.max_reduce),
            "skewed_key": ref(self.skew_values, jobs.skew_pair, jobs.spread_reduce),
        }
        self.expected = {k: _sorted_output(v) for k, v in self.expected.items()}
        self.etl_in_bytes = os.path.getsize(os.path.join(self.etl_dir, "base.parquet"))
        self.etl_out: dict[str, str] = {}

    @staticmethod
    def traced_layers() -> list[str]:
        """Per-layer metrics a traced run of this workload must emit."""
        names = ["session.get_spark_s", "trace.warm_pass_s", *tracing.EXEC_LAYERS]
        for job in SHIM_JOBS:
            names += [f"mapreduce.{job}.{m}" for m in tracing.SHIM_LAYERS]
        return names + [
            "sinks.write_parquet_s", "sinks.merge_upsert_s", "sinks.compact_s",
            "sources.read_back_s", "sinks.files_written", "sinks.bytes_out_per_in",
        ]

    def _shim(self, name: str) -> Callable[[], list]:
        from ray_mapreduce_spark import mapreduce as mr

        s, n_part = self.spark, self.spark.sparkContext.defaultParallelism
        return {
            "bulk_holistic": lambda: mr.MapReduceBulk(
                self.bulk, jobs.mod9_square, jobs.max_reduce, n_part, n_part,
                max_chunk_size=100_000, spark=s,
            ),
            "skewed_key": lambda: mr.MapReduceBulk(
                self.skew_values, jobs.skew_pair, jobs.spread_reduce, n_part, n_part,
                max_chunk_size=100_000, spark=s,
            ),
        }[name]

    def _shim_op(self, name: str) -> Op:
        call = self._shim(name)

        def run(tr, p):
            with tr.phase(p, "mapreduce." + name, "run"):
                return call()

        return Op("mapreduce." + name, run, lambda out: _sorted_output(out) == self.expected[name])

    def _etl_ops(self, pass_no: int) -> list[Op]:
        from ray_mapreduce_spark.sources import sinks

        s = self.spark
        d = os.path.join(self.etl_dir, f"pass{pass_no}")
        out = self.etl_out = {k: os.path.join(d, k) for k in ("written", "merged", "compacted")}

        def write(tr, p):
            with tr.phase(p, "sinks.write_parquet", "run"):
                df = s.read.parquet(os.path.join(self.etl_dir, "base.parquet"))
                sinks.write_parquet(df, out["written"], partition_by=["region"])

        def merge(tr, p):
            with tr.phase(p, "sinks.merge_upsert", "run"):
                changes = s.read.parquet(os.path.join(self.etl_dir, "changes.parquet"))
                return sinks.merge_upsert_parquet(
                    s, out["written"], changes, out["merged"], key="id", delete_col="deleted"
                )

        def compact(tr, p):
            with tr.phase(p, "sinks.compact", "run"):
                return sinks.compact_parquet(s, out["merged"], out["compacted"], target_mb=1)

        def read_back(tr, p):
            with tr.phase(p, "sources.read_back", "collect"):
                return s.read.parquet(out["compacted"]).toPandas()

        exp = self.etl_expected
        n_merged = len(exp)

        def check_read_back(pdf) -> bool:
            got = pdf[list(exp.columns)].sort_values("id").reset_index(drop=True)
            got["ship_day"] = got["ship_day"].astype(exp["ship_day"].dtype)
            return len(got) == n_merged and all(got[c].equals(exp[c]) for c in exp.columns)

        return [
            Op("sinks.write_parquet", write, lambda _: os.path.isdir(out["written"])),
            Op("sinks.merge_upsert", merge, lambda r: r["total"] == n_merged),
            Op("sinks.compact", compact, lambda n: isinstance(n, int) and n >= 1),
            Op("sources.read_back", read_back, check_read_back),
        ]

    def ops(self, pass_no: int) -> list[Op]:
        return [self._shim_op(n) for n in SHIM_JOBS] + self._etl_ops(pass_no)

    def end_pass(self) -> dict[str, float]:
        """Count the parquet files and bytes this pass's sinks wrote,
        then delete them."""
        n = size = 0
        for top in self.etl_out.values():
            for root, _, files in os.walk(top):
                for f in files:
                    if f.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(root, f))
        shutil.rmtree(os.path.dirname(self.etl_out["written"]), ignore_errors=True)
        return {"files": n, "bytes_out_per_in": size / self.etl_in_bytes}


WORKLOADS = {"analytics": Analytics, "mapreduce_etl": MapReduceEtl}
