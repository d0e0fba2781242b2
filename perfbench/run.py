#!/usr/bin/env python3
"""Benchmark runner for spark-graft.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Runs one workload (see README.md) in this fresh process on
``local[<nproc>]``, closed loop with a single client: the cold pass,
a fixed number of warm-up passes, then a fixed number of measured
passes. Only if those end before ``--seconds`` have elapsed do extra
passes follow until then; they are checked and recorded, but left out
of the metrics, so every commit is measured at the same passes.
Every output is checked. The last line of stdout is one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``); the line before it holds the full report: the pass
curve, sample counts, contention probes and the error rate.

All files, Spark's scratch space included, go under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import jobs
import tracing
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TICKS = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process was exec'd (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / TICKS


def tree_cpu_s(root_pid: int) -> float:
    """User+system CPU seconds of ``root_pid`` and all its descendants
    (driver, JVM, Python workers), reaped children included."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(f) for f in fields[11:15])
    total, todo = 0, [root_pid]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / TICKS


class JitCpu:
    """CPU seconds the JVM's JIT compiler threads have used so far.

    Compilation is warm-up work that keeps running, in bursts, long
    after the first passes; on a 4-core box it made per-pass CPU vary
    by a third between runs. The warm CPU metric leaves it out. A
    compiler thread that exits keeps the last value seen for it."""

    def __init__(self, pid: int):
        self.pid = pid
        self.seen: dict[str, int] = {}

    def __call__(self) -> float:
        tasks = f"/proc/{self.pid}/task"
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1 : stat.rindex(")")]
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                fields = stat.rsplit(")", 1)[1].split()
                self.seen[tid] = int(fields[11]) + int(fields[12])
        return sum(self.seen.values()) / TICKS


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_retained_mb(spark) -> float:
    """JVM heap still live after a full GC, plus non-heap (metaspace,
    code cache): what the session keeps between queries.

    Python's collector runs first so py4j releases the JVM objects it
    pins. Spark's ContextCleaner frees RDD, shuffle and broadcast state
    asynchronously after a GC finds it unreachable, so one GC can leave
    what the next one frees: on a loaded 4-core box the old generation
    read 266, 199, then 70 MB over three GCs half a second apart. The
    GC therefore runs at least four times, half a second apart, then
    until one frees less than 1 MB, at most 12 times; the smallest
    reading counts."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(12):
        jvm.java.lang.System.gc()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        readings.append(used / 2**20)
        if len(readings) >= 4 and readings[-1] > readings[-2] - 1.0:
            break
        time.sleep(0.5)
    return min(readings)


def isolate_scratch(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; let workers import the job functions in this directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args) -> tuple[dict, dict, dict, dict]:
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate_scratch(work)
    try:
        return _measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


def _run_passes(args, spark, wl, tracer, work_cpu_s):
    """Cold, warm-up and measured passes; returns (curve, per-pass
    counters, operations attempted, operations failed)."""
    from ray_mapreduce_spark.testing import storage_bytes

    curve, counters = [], []
    attempted = failed = 0
    first_measured = 1 + wl.warmup_passes
    n_fixed = first_measured + wl.measured_passes
    p = 0
    while True:
        if p == first_measured:
            measure_start = time.perf_counter()
        kind = ("cold" if p == 0 else "warmup" if p < first_measured
                else "measured" if p < n_fixed else "extra")
        ops = wl.ops(p)
        outputs, stored = [], 0
        c0, w0 = work_cpu_s(), time.perf_counter()
        for op in ops:
            try:
                outputs.append(op.run(tracer, p))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                outputs.append(op)  # marks the failure
            if args.trace:
                stored = max(stored, sum(storage_bytes(spark)))
        wall, cpu = time.perf_counter() - w0, work_cpu_s() - c0
        for op, out in zip(ops, outputs):
            attempted += 1
            ok = out is not op and op.check(out)
            if not ok:
                failed += 1
                print(f"# pass {p}: {op.name} output is wrong", file=sys.stderr)
        counters.append(dict(wl.end_pass() or {}, stored_mb=stored / tracing.MB))
        curve.append({"pass": p, "kind": kind, "wall_s": wall, "cpu_s": cpu})
        print(f"# pass {p} {kind}: {wall:.3f}s wall, {cpu:.3f}s cpu", file=sys.stderr)
        p += 1
        if p >= n_fixed and time.perf_counter() - measure_start >= args.seconds:
            break
    return curve, counters, attempted, failed


def _measure(args, work: str) -> tuple[dict, dict, dict, dict]:
    import pyspark

    from ray_mapreduce_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    extra = tracing.event_log_conf(os.path.join(work, "events")) if args.trace else None
    if extra:
        os.makedirs(os.path.join(work, "events"))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, extra_conf=extra)
    try:
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        setup_s = process_age_s()

        me, jvm_pid = os.getpid(), spark.sparkContext._gateway.proc.pid
        jit_cpu = JitCpu(jvm_pid)

        def work_cpu_s() -> float:
            return tree_cpu_s(me) - jit_cpu()

        probe_start = jobs.python_single_process_s()
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.sf)
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else tracing.NullTracer()
        layers: dict[str, float] = {"session.get_spark_s": get_spark_s}
        if args.trace and hasattr(wl, "load_table_probe"):
            first, cached = wl.load_table_probe()
            layers["sources.load_table_first_s"] = first
            layers["sources.load_table_cached_s"] = cached

        curve, counters, attempted, failed = _run_passes(args, spark, wl, tracer, work_cpu_s)

        probe_end = jobs.python_single_process_s()
        peak_rss = {"driver": vm_hwm_mb(me), "jvm": vm_hwm_mb(jvm_pid)}
        retained = jvm_retained_mb(spark)
    finally:
        stop_spark(spark)

    measured = [c for c in curve if c["kind"] == "measured"]
    warm_pass = statistics.median(c["wall_s"] for c in measured)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (curve[0]["wall_s"], "s"),
        "warm_pass_s": (warm_pass, "s"),
        "warm_cpu_s": (statistics.median(c["cpu_s"] for c in measured), "s"),
        "jvm_retained_mb": (retained, "MB"),
    }
    if args.trace:
        job_starts, stage_groups = tracing.read_event_log(os.path.join(work, "events"))
        ids = [c["pass"] for c in measured]
        layers.update(tracing.layer_metrics(tracer.spans, job_starts, stage_groups, ids))
        layers["trace.warm_pass_s"] = warm_pass
        layers["storage.retained_mb"] = statistics.median(counters[i]["stored_mb"] for i in ids)
        if "files" in counters[0]:
            layers["sinks.files_written"] = statistics.median(counters[i]["files"] for i in ids)
            layers["sinks.bytes_out_per_in"] = statistics.median(
                counters[i]["bytes_out_per_in"] for i in ids
            )
        missing = [n for n in wl.traced_layers() if n not in layers]
        if missing:
            raise RuntimeError(f"the traced run did not measure {missing}")

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "trace": bool(args.trace),
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "warmup_passes": wl.warmup_passes,
        "samples": {
            "setup_s": 1,
            "cold_pass_s": 1,
            "warm_pass_s": len(measured),
            "warm_cpu_s": len(measured),
            "jvm_retained_mb": 1,
        },
        "peak_rss_mb": dict(peak_rss, total=sum(peak_rss.values())),
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "probe_python_single_process_s": {"start": probe_start, "end": probe_end},
        "curve": curve,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    return report, result, end_to_end, layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["analytics", "mapreduce_etl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="input scale (smoke test: 0.001)")
    args = ap.parse_args(argv)

    report, result, end_to_end, layers = run(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.trace:
        # The other workload's layers: this one never enters them.
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared["per_layer"]}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in end_to_end.items()}
    print(json.dumps({"report": report}))
    print(json.dumps(dict(result, metrics=metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
