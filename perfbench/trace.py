"""Spans around the benchmark's calls into each layer, and the per-layer
metrics derived from them and from Spark's event log.

Spans live in memory and are written out once, at exit. Each records a
name, start and end (epoch seconds, the clock Spark's event log uses), its
parent span and the id of the op it belongs to. With tracing off every
``span`` call returns one shared no-op context.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
from dataclasses import asdict, dataclass
from time import time

# Physical operators that run Python workers (the functions layer).
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "EvalPythonUDTF",
)
JOB_GROUP_PREFIX = "perfbench/"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: str | None
    phase: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; a span given an ``op`` starts that op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._noop = contextlib.nullcontext()

    def attach(self, spark_context) -> None:
        """Set a job group around each op span from now on."""
        self._sc = spark_context

    def span(self, name: str, op: str | None = None, phase: str | None = None):
        if not self.enabled:
            return self._noop
        return self._record(name, op, phase)

    @contextlib.contextmanager
    def _record(self, name: str, op: str | None, phase: str | None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), parent=parent.id if parent else None, name=name,
            op=op or (parent.op if parent else None),
            phase=phase or (parent.phase if parent else "setup"), start=time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        grouped = op is not None and self._sc is not None
        if grouped:
            self._sc.setJobGroup(JOB_GROUP_PREFIX + op, name)
        try:
            yield s
        finally:
            s.end = time()
            self._stack.pop()
            if grouped:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: tuple[int, ...] = ()


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_tasks: dict[int, int]  # completed stage -> number of tasks
    tasks: list[dict]  # per task: stage, start, end and its metrics
    sql_starts: list[tuple[float, str]]  # (time, physical plan)


def read_event_log(directory: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_tasks: dict[int, int] = {}
    tasks: list[dict] = []
    sql_starts: list[tuple[float, str]] = []
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], props.get("spark.jobGroup.id"),
                        e["Submission Time"] / 1000, stages=tuple(e["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    tasks.append({
                        "stage": e["Stage ID"],
                        "start": info["Launch Time"] / 1000,
                        "end": info["Finish Time"] / 1000,
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000,
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "shuffle_read": (
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        ),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    })
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_starts.append((e["time"] / 1000, e.get("physicalPlanDescription", "")))
    return EventLog(jobs, stage_tasks, tasks, sql_starts)


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------


def _covered(interval: tuple[float, float], pieces: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``pieces``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in pieces if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(spans: list[Span], log: EventLog, passes: int, cores: int) -> dict[str, float]:
    """Per-layer figures of the timed phase, each per timed pass;
    ``passes`` is the number of timed passes."""
    def timed(name: str) -> list[Span]:
        return [s for s in spans if s.name == name and s.phase == "timed"]

    def total(name: str) -> float:
        return sum(s.seconds for s in timed(name))

    ops = timed("op")
    op_ids = {s.op: s for s in ops}
    every_op = {s.op for s in spans if s.name == "op"}

    def op_of(t: float, group: str | None) -> Span | None:
        """The timed op a job or query belongs to: by the job group the
        benchmark set, else (streaming jobs run under the stream's own
        group) by time."""
        op = group[len(JOB_GROUP_PREFIX):] if group and group.startswith(JOB_GROUP_PREFIX) else None
        if op in every_op:
            return op_ids.get(op)
        return next((s for s in ops if s.start <= t <= s.end), None)

    timed_jobs = [j for j in log.jobs.values() if op_of(j.start, j.group) is not None]
    job_spans = [(j.start, j.end or j.start) for j in timed_jobs]

    def gap(within: list[Span]) -> float:
        """Time inside ``within`` when no job was running."""
        return sum(s.seconds - _covered((s.start, s.end), job_spans) for s in within)

    stages = {st for j in timed_jobs for st in j.stages if st in log.stage_tasks}
    tasks = [t for t in log.tasks if t["stage"] in stages]
    build = timed("queries.build")
    build_jobs = sum(1 for j in timed_jobs if any(b.start <= j.start <= b.end for b in build))
    python_ops = {
        s.op for t, plan in log.sql_starts if any(n in plan for n in PYTHON_NODES)
        for s in [op_of(t, None)] if s is not None
    }
    op_wall = sum(s.seconds for s in ops)
    task_wall = sum(t["end"] - t["start"] for t in tasks)
    p = max(passes, 1)
    return {
        "queries.build_s": total("queries.build") / p,
        "queries.build_jobs": build_jobs / p,
        "queries.exec_s": total("queries.exec") / p,
        "spark.jobs": len(timed_jobs) / p,
        "spark.stages": len(stages) / p,
        "spark.tasks": len(tasks) / p,
        "spark.single_task_stages": sum(1 for st in stages if log.stage_tasks[st] == 1) / p,
        "spark.job_gap_s": gap(ops) / p,
        "spark.task_s": sum(t["run_s"] for t in tasks) / p,
        "spark.cpu_s": sum(t["cpu_s"] for t in tasks) / p,
        "spark.gc_s": sum(t["gc_s"] for t in tasks) / p,
        "spark.core_busy_share": task_wall / (cores * op_wall) if op_wall else 0.0,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / p,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / p,
        "spark.spill_bytes": sum(t["spill"] for t in tasks) / p,
        "sources.input_bytes": sum(t["input"] for t in tasks) / p,
        "functions.python_ops": len(python_ops) / p,
        "functions.python_op_s": sum(op_ids[o].seconds for o in python_ops) / p,
        "dag.tail_s": total("dag.tail") / p,
        "streaming.drain_gap_s": gap(timed("streaming.drain")) / p,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
