"""Tracing for the per-layer run: phase spans timed from outside the
package, Spark job groups around each phase, and Spark's own event log
read back after the session stops.

A phase's job group is ``"<pass>|<op>|<phase>"``. It is set fresh for
every phase and reset afterwards, so no job is charged to a phase it
did not run in.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

MB = 1024 * 1024
UNTIMED = "untimed"

# Per-pass totals over every stage a traced phase ran.
EXEC_LAYERS = (
    "exec.collect_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
    "exec.executor_cpu_s", "exec.jvm_gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "exec.result_mb",
)
# Per MapReduce job: ``mapreduce.<job>.<layer>``.
SHIM_LAYERS = (
    "driver_s", "map_stage_s", "reduce_stage_s", "shuffle_write_mb", "shuffle_records",
    "reduce_task_max_over_median",
)


class NullTracer:
    """The untraced run: no job groups, no spans."""

    enabled = False

    def phase(self, pass_no: int, op: str, phase: str):
        return nullcontext()


class Tracer:
    """Times each phase and tags the Spark jobs it runs."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[int, str, str, float, float]] = []  # pass, op, phase, t0, seconds

    @contextmanager
    def phase(self, pass_no: int, op: str, phase: str):
        group = f"{pass_no}|{op}|{phase}"
        self.sc.setJobGroup(group, group)
        start_epoch, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((pass_no, op, phase, start_epoch, time.perf_counter() - t0))
            self.sc.setJobGroup(UNTIMED, UNTIMED)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class StageStats:
    __slots__ = ("tasks", "run_ms", "cpu_ns", "gc_ms", "sw_bytes", "sw_records",
                 "sr_bytes", "spill", "result", "task_ms", "start", "end")

    def __init__(self):
        self.tasks = self.run_ms = self.cpu_ns = self.gc_ms = 0
        self.sw_bytes = self.sw_records = self.sr_bytes = self.spill = self.result = 0
        self.task_ms: list[int] = []
        self.start = self.end = 0


def read_event_log(log_dir: str):
    """Return ({group: [job submission ms]}, {group: [StageStats]})."""
    (path,) = glob.glob(log_dir + "/*")
    stage_group: dict[int, str] = {}
    job_starts: dict[str, list[int]] = defaultdict(list)
    stages: dict[int, StageStats] = defaultdict(StageStats)
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = e.get("Properties", {}).get("spark.jobGroup.id") or UNTIMED
                job_starts[g].append(e["Submission Time"])
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages[info["Stage ID"]]
                st.start = info.get("Submission Time", 0)
                st.end = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                st = stages[e["Stage ID"]]
                st.tasks += 1
                st.run_ms += m["Executor Run Time"]
                st.cpu_ns += m["Executor CPU Time"]
                st.gc_ms += m["JVM GC Time"]
                st.result += m["Result Size"]
                st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
                st.sw_bytes += sw["Shuffle Bytes Written"]
                st.sw_records += sw["Shuffle Records Written"]
                st.sr_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                info = e["Task Info"]
                st.task_ms.append(info["Finish Time"] - info["Launch Time"])
    by_group: dict[str, list[StageStats]] = defaultdict(list)
    for sid, st in stages.items():
        if st.tasks:  # skipped stages never ran a task
            by_group[stage_group.get(sid, UNTIMED)].append(st)
    return job_starts, by_group


# Query phase -> (per-query metric prefix, per-pass total).
_QUERY_PHASES = {
    "build": ("build_s", "plans.build_s"),
    "plan": ("plan_s", "catalyst.plan_s"),
    "collect": ("collect_s", "exec.collect_s"),
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(spans, job_starts, stage_groups, measured: list[int]) -> dict[str, float]:
    """Per-layer metrics from the measured passes: for each, the value
    per pass, then the median over passes."""
    per_pass: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))

    def add(name: str, p: int, v: float) -> None:
        per_pass[name][p] += v

    first_job: dict[tuple[int, str], float] = {}
    for group, starts in job_starts.items():
        if group == UNTIMED:
            continue
        p, op, phase = group.split("|")
        p = int(p)
        add(f"jobs.{op}", p, len(starts))
        add("exec.jobs", p, len(starts))
        if phase == "build":
            add("plans.build_jobs", p, len(starts))
        first_job[(p, op)] = min(first_job.get((p, op), float("inf")), min(starts) / 1000.0)

    for p, op, phase, start_epoch, secs in spans:
        if op.startswith("mapreduce."):
            first = first_job.get((p, op))
            add(f"{op}.driver_s", p, secs if first is None else first - start_epoch)
        elif op.startswith(("sinks.", "sources.")):
            add(f"{op}_s", p, secs)
            if phase == "collect":
                add("exec.collect_s", p, secs)
        else:
            per_query, total = _QUERY_PHASES[phase]
            add(f"{per_query}.{op}", p, secs)
            add(total, p, secs)
            # A query may run no job in a phase: its job counts read 0.
            add(f"jobs.{op}", p, 0)
            if phase == "build":
                add("plans.build_jobs", p, 0)

    for group, sts in stage_groups.items():
        if group == UNTIMED:
            continue
        p, op, _ = group.split("|")
        p = int(p)
        for st in sts:
            add("exec.stages", p, 1)
            add("exec.tasks", p, st.tasks)
            add("exec.executor_run_s", p, st.run_ms / 1000.0)
            add("exec.executor_cpu_s", p, st.cpu_ns / 1e9)
            add("exec.jvm_gc_s", p, st.gc_ms / 1000.0)
            add("exec.shuffle_write_mb", p, st.sw_bytes / MB)
            add("exec.shuffle_read_mb", p, st.sr_bytes / MB)
            add("exec.spill_mb", p, st.spill / MB)
            add("exec.result_mb", p, st.result / MB)
            if op.startswith("mapreduce."):
                dur = (st.end - st.start) / 1000.0
                if st.sw_bytes:
                    add(f"{op}.map_stage_s", p, dur)
                    add(f"{op}.shuffle_write_mb", p, st.sw_bytes / MB)
                    add(f"{op}.shuffle_records", p, st.sw_records)
                elif st.sr_bytes:
                    add(f"{op}.reduce_stage_s", p, dur)
                    med = statistics.median(st.task_ms) or 1
                    add(f"{op}.reduce_task_max_over_median", p, max(st.task_ms) / med)

    return {name: _median(vals.get(p, 0.0) for p in measured) for name, vals in per_pass.items()}
