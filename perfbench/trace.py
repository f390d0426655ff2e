"""Traced-run instrumentation, recorded from the benchmark's own files.

- ``Tracer.span(layer)`` wraps a call into one layer's public functions: it
  labels the Spark jobs the call starts with ``setJobDescription
  ("<workload>/<layer>")`` and records the span in memory. A layer's self
  time is its spans' duration minus the part its child spans cover.
- ``parse_event_log`` reads the uncompressed Spark event log of the traced
  phase: task metrics per job label, task intervals, and the Python-runner
  accumulables.
- ``ProgressListener`` is a ``StreamingQueryListener`` that keeps every
  micro-batch's ``durationMs`` split and state-operator progress.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    layer: str
    start: float
    parent: "Span | None"
    end: float = 0.0
    child_s: float = 0.0


class Tracer:
    """Spans around layer calls. Disabled, ``span`` only yields, so the
    untraced run pays nothing for it."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        s = Span(layer, time.perf_counter(), self._stack[-1] if self._stack else None)
        self._stack.append(s)
        sc.setJobDescription(f"{self.workload}/{layer}")
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.parent is not None:
                s.parent.child_s += s.end - s.start
            self.spans.append(s)
            sc.setJobDescription(
                f"{self.workload}/{self._stack[-1].layer}" if self._stack else None
            )

    def self_s(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += (s.end - s.start) - s.child_s
        return out

    def total_s(self, layer: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.layer == layer)


# --- event log ---------------------------------------------------------------

#: Python-runner SQL metrics (PythonSQLMetrics) as they appear among a
#: task's accumulables
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class TaskRec:
    stage: int
    label: str
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_b: int
    fetch_wait_ms: int
    spill_b: int
    input_b: int
    output_b: int
    py_sent_b: int
    py_recv_b: int


@dataclass
class EventLog:
    #: job id -> (layer label, submission time in epoch ms)
    jobs: dict[int, tuple[str, int]] = field(default_factory=dict)
    tasks: list[TaskRec] = field(default_factory=list)

    def by_label(self, prefix: str) -> list[TaskRec]:
        return [t for t in self.tasks if t.label.startswith(prefix)]

    def within(self, windows_ms: list[tuple[int, int]]) -> "EventLog":
        """The jobs submitted and tasks launched inside the timed ops'
        windows (warm-up and expectation jobs fall outside)."""
        def inside(ms: int) -> bool:
            return any(a <= ms <= b for a, b in windows_ms)

        return EventLog({j: v for j, v in self.jobs.items() if inside(v[1])},
                        [t for t in self.tasks if inside(t.launch_ms)])


def parse_event_log(path: str, workload: str) -> EventLog:
    """Task metrics of every job in the log, each task tagged with its job's
    layer label (the part after "<workload>/"; other jobs are "other")."""
    log = EventLog()
    stage_label: dict[int, str] = {}
    # Spark 4 writes a rolling log: a directory of event files per app
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                   if not f.startswith(("appstatus", ".")))
    for name in files:
        with open(name) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    label = desc[len(workload) + 1:] if desc.startswith(workload + "/") else "other"
                    log.jobs[ev["Job ID"]] = (label, ev.get("Submission Time", 0))
                    for sid in ev.get("Stage IDs", ()):
                        stage_label[sid] = label
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    if not m:
                        continue
                    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", ())}
                    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
                    log.tasks.append(TaskRec(
                        stage=ev["Stage ID"],
                        label=stage_label.get(ev["Stage ID"], "other"),
                        launch_ms=info.get("Launch Time", 0),
                        finish_ms=info.get("Finish Time", 0),
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ns=m.get("Executor CPU Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
                        spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        input_b=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        output_b=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        py_sent_b=int(acc.get(PY_SENT) or 0),
                        py_recv_b=int(acc.get(PY_RECEIVED) or 0),
                    ))
    return log


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
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


def engine_metrics(log: EventLog, op_windows_ms: list[tuple[int, int]], ops: int,
                   cores: int) -> dict:
    """The engine block: per-op job/task counts, idle driver share, CPU
    share, GC, shuffle, fetch wait and spill over the traced phase."""
    ops = max(ops, 1)
    wall_ms = sum(b - a for a, b in op_windows_ms) or 1
    intervals = [(t.launch_ms, t.finish_ms) for t in log.tasks]
    busy_ms = sum(covered_ms(intervals, a, b) for a, b in op_windows_ms)
    return {
        "spark.jobs_per_op": len(log.jobs) / ops,
        "spark.tasks_per_op": len(log.tasks) / ops,
        "spark.driver_idle_share": 1.0 - busy_ms / wall_ms,
        "spark.executor_cpu_share": sum(t.cpu_ns for t in log.tasks) / 1e6 / (wall_ms * cores),
        "spark.gc_s": sum(t.gc_ms for t in log.tasks) / 1e3,
        "spark.shuffle_write_mb": sum(t.shuffle_write_b for t in log.tasks) / 2**20,
        "spark.fetch_wait_s": sum(t.fetch_wait_ms for t in log.tasks) / 1e3,
        "spark.spill_mb": sum(t.spill_b for t in log.tasks) / 2**20,
    }


def task_skew(tasks: list[TaskRec]) -> float:
    """max / median task time of the widest stage among ``tasks``."""
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t.run_ms)
    if not by_stage:
        return 0.0
    widest = max(by_stage.values(), key=len)
    med = statistics.median(widest)
    return max(widest) / med if med else 0.0


# --- streaming progress ------------------------------------------------------


class ProgressListener(StreamingQueryListener):
    """Keeps each micro-batch's progress fields the per-layer block needs."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = p.stateOperators or []
        self.batches.append({
            "rows": p.numInputRows,
            "duration": dict(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal for s in state),
            "state_bytes": sum(s.memoryUsedBytes for s in state),
            "state_commit_ms": sum(s.commitTimeMs for s in state),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def metrics(self, backlog_ticks: int) -> dict:
        b = [x for x in self.batches if x["rows"] > 0] or [
            {"rows": 0, "duration": {}, "state_rows": 0, "state_bytes": 0, "state_commit_ms": 0}
        ]

        def p50(key: str) -> float:
            return float(statistics.median(x["duration"].get(key, 0) for x in b))

        return {
            "streaming.batch_ms_p50": p50("triggerExecution"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.planning_ms_p50": p50("queryPlanning"),
            "streaming.wal_commit_ms_p50": p50("walCommit"),
            "streaming.state_commit_ms_p50": float(
                statistics.median(x["state_commit_ms"] for x in b)),
            "streaming.state_rows": float(b[-1]["state_rows"]),
            "streaming.state_mb": b[-1]["state_bytes"] / 2**20,
            "streaming.rows_per_batch": float(statistics.median(x["rows"] for x in b)),
            "streaming.backlog_ticks": float(backlog_ticks),
        }
