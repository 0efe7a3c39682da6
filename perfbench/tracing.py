"""Spans recorded by the benchmark, and Spark's event log folded onto them.

A span is one call from the benchmark into a module of the package
(``module.function``) or one benchmark operation that groups such calls.
Spans stay in memory and are written out when the run ends.

Event-log stages are assigned to spans by time window. That is exact
because the benchmark issues one operation at a time; job groups would
not be, since ``index_build._run_concurrently`` starts jobs from plain
Python threads that do not inherit a job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    sid: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.time(), parent=parent, op=op, sid=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.sid)
        return s.dur - _union_len(kids, s.start, s.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(s.__dict__, self_s=self.self_time(s)) for s in self.spans], f)


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Stage:
    sid: int
    attempt: int
    submit: float = 0.0
    done: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_b: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    fetch_wait_s: float = 0.0
    spill_b: int = 0
    output_b: int = 0


@dataclass
class EventLog:
    jobs: list[float] = field(default_factory=list)  # submission times
    stages: list[Stage] = field(default_factory=list)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the uncompressed JSON-lines event log(s) Spark wrote into
    ``log_dir``: single files, or the ``eventlog_v2_*/events_<n>_*``
    parts of a rolling log. Times become epoch seconds, like the spans'."""
    stages: dict[tuple[int, int], Stage] = {}
    jobs: list[float] = []
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]

    def part(p: str) -> tuple:
        name = os.path.basename(p)
        n = name.split("_")[1] if name.startswith("events_") else "0"
        return (os.path.dirname(p), int(n) if n.isdigit() else 0)

    for path in sorted(paths, key=part):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(
                        (info["Stage ID"], info["Stage Attempt ID"]),
                        Stage(info["Stage ID"], info["Stage Attempt ID"]),
                    )
                    st.submit = info.get("Submission Time", 0) / 1000.0
                    st.done = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(
                        (ev["Stage ID"], ev["Stage Attempt ID"]),
                        Stage(ev["Stage ID"], ev["Stage Attempt ID"]),
                    )
                    _add_task(st, ev.get("Task Metrics") or {})
    done = [s for s in stages.values() if s.submit and s.done]
    return EventLog(jobs=sorted(jobs), stages=sorted(done, key=lambda s: s.submit))


def _add_task(st: Stage, m: dict) -> None:
    st.tasks += 1
    st.run_s += m.get("Executor Run Time", 0) / 1000.0
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
    st.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
    st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


SPARK_METRICS = (
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.jvm_gc_s",
    "spark.sched_gap_s", "spark.input_mb", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.shuffle_fetch_wait_s", "spark.spill_mb",
    "spark.output_mb",
)


def spark_layer(log: EventLog, ops: list[Span]) -> dict[str, float]:
    """Per-operation means of the Spark work inside the ``ops`` spans.
    A stage belongs to the op whose window holds its submission time;
    ``sched_gap_s`` is the part of an op's wall time in which no stage
    of it was running (driver work plus scheduling)."""
    if not ops:
        return {k: 0.0 for k in SPARK_METRICS}
    tot = dict.fromkeys(SPARK_METRICS, 0.0)
    mb = 1024.0 * 1024.0
    for op in ops:
        mine = [s for s in log.stages if op.start <= s.submit <= op.end]
        tot["spark.jobs_per_op"] += sum(1 for t in log.jobs if op.start <= t <= op.end)
        tot["spark.stages_per_op"] += len(mine)
        tot["spark.tasks_per_op"] += sum(s.tasks for s in mine)
        tot["spark.executor_run_s"] += sum(s.run_s for s in mine)
        tot["spark.executor_cpu_s"] += sum(s.cpu_s for s in mine)
        tot["spark.jvm_gc_s"] += sum(s.gc_s for s in mine)
        busy = _union_len([(s.submit, s.done) for s in mine], op.start, op.end)
        tot["spark.sched_gap_s"] += op.dur - busy
        tot["spark.input_mb"] += sum(s.input_b for s in mine) / mb
        tot["spark.shuffle_write_mb"] += sum(s.shuffle_write_b for s in mine) / mb
        tot["spark.shuffle_read_mb"] += sum(s.shuffle_read_b for s in mine) / mb
        tot["spark.shuffle_fetch_wait_s"] += sum(s.fetch_wait_s for s in mine)
        tot["spark.spill_mb"] += sum(s.spill_b for s in mine) / mb
        tot["spark.output_mb"] += sum(s.output_b for s in mine) / mb
    return {k: v / len(ops) for k, v in tot.items()}
