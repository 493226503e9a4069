"""Spans around public engine calls, and folding of Spark's event log
into them.

A :class:`Tracer` records one span per call: name, layer, start, end,
parent and run id, kept in memory.  Each span runs its Spark jobs under
its own job group (the span id), so every stage and task in Spark's
event log can be credited to the span that caused it
(:class:`Fold`).  :class:`NullTracer` has the same interface
and does nothing, for the untraced runs that give the end-to-end
numbers.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield None


class Tracer:
    """Records spans; sets the Spark job group of the calling thread to
    the innermost open span while it is open."""

    enabled = True

    def __init__(self, sc, run: str):
        self.sc = sc
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def open(self) -> bool:
        """Whether a span is open."""
        return bool(self._stack)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run}.{len(self.spans)}",
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            run=self.run,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is None:
                pass
            elif parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def load_spans(path: str) -> list[Span]:
    with open(path) as f:
        return [Span(**json.loads(line)) for line in f if line.strip()]


# ---------------------------------------------------------------------------
# event log folding


@dataclass
class StageRecord:
    stage_id: int
    group: str | None
    tasks: int = 0
    failures: int = 0
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_records_written: int = 0
    shuffle_read: int = 0
    fetch_wait_ms: int = 0
    spill: int = 0
    peak_exec_mem: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int = 0
    stage_ids: tuple[int, ...] = ()


@dataclass
class EventLog:
    jobs: dict[int, JobRecord]
    stages: dict[int, StageRecord]


def read_event_log(path: str) -> EventLog:
    with open(path) as f:
        return parse_events(json.loads(line) for line in f if line.strip())


def parse_events(events) -> EventLog:
    """Jobs and per-stage task totals from Spark listener events.  A
    stage is credited to the job group it was submitted under."""
    jobs: dict[int, JobRecord] = {}
    stages: dict[int, StageRecord] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = JobRecord(
                job_id=e["Job ID"],
                group=(e.get("Properties") or {}).get("spark.jobGroup.id"),
                start_ms=e["Submission Time"],
                stage_ids=tuple(e.get("Stage IDs", ())),
            )
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            if sid not in stages:
                stages[sid] = StageRecord(
                    stage_id=sid,
                    group=(e.get("Properties") or {}).get("spark.jobGroup.id"),
                )
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(e["Stage ID"])
            if st is None:
                continue
            _add_task(st, e)
    return EventLog(jobs=jobs, stages=stages)


def _add_task(st: StageRecord, e: dict) -> None:
    st.tasks += 1
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        st.failures += 1
    m = e.get("Task Metrics")
    if not m:
        return
    st.run_ms.append(m.get("Executor Run Time", 0))
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st.peak_exec_mem = max(st.peak_exec_mem, m.get("Peak Execution Memory", 0))
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
    st.shuffle_records_written += sw.get("Shuffle Records Written", 0)
    im = m.get("Input Metrics") or {}
    st.input_bytes += im.get("Bytes Read", 0)
    st.input_records += im.get("Records Read", 0)
    st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


class Fold:
    """Spans joined with the event log: which stages and jobs each span
    caused, inclusive of its descendants, and span self time."""

    def __init__(self, spans: list[Span], log: EventLog):
        self.spans = {s.id: s for s in spans}
        self.log = log
        self.children: dict[str, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def subtree(self, span_id: str) -> list[str]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(c.id for c in self.children.get(sid, ()))
        return out

    def stages(self, span_id: str) -> list[StageRecord]:
        """Stages run under ``span_id`` or any span below it."""
        ids = set(self.subtree(span_id))
        return [st for st in self.log.stages.values() if st.group in ids]

    def jobs(self, span_id: str) -> list[JobRecord]:
        ids = set(self.subtree(span_id))
        return [j for j in self.log.jobs.values() if j.group in ids]

    def self_time(self, span_id: str) -> float:
        """Span wall time minus the part of it its children cover."""
        s = self.spans[span_id]
        covered = _union_length(
            [(c.start, c.end) for c in self.children.get(span_id, ())], s.start, s.end
        )
        return s.wall - covered

    def job_gap(self, span_id: str) -> float:
        """Span wall time covered by no Spark job started under it."""
        s = self.spans[span_id]
        covered = _union_length(
            [(j.start_ms / 1000, j.end_ms / 1000) for j in self.jobs(span_id)],
            s.start,
            s.end,
        )
        return s.wall - covered


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def stage_totals(stages: list[StageRecord]) -> dict[str, float]:
    """Summed task metrics of ``stages`` in seconds and bytes."""
    run_s = sum(sum(st.run_ms) for st in stages) / 1000
    cpu_s = sum(st.cpu_ns for st in stages) / 1e9
    return {
        "tasks": sum(st.tasks for st in stages),
        "task_failures": sum(st.failures for st in stages),
        "run_s": run_s,
        "cpu_s": cpu_s,
        "gc_s": sum(st.gc_ms for st in stages) / 1000,
        "shuffle_write": sum(st.shuffle_write for st in stages),
        "shuffle_read": sum(st.shuffle_read for st in stages),
        "fetch_wait_s": sum(st.fetch_wait_ms for st in stages) / 1000,
        "spill": sum(st.spill for st in stages),
        "peak_exec_mem": max((st.peak_exec_mem for st in stages), default=0),
        "input_bytes": sum(st.input_bytes for st in stages),
        "output_bytes": sum(st.output_bytes for st in stages),
    }


def task_skew(stages: list[StageRecord]) -> float:
    """Max over median task run time in the slowest stage (by summed
    run time) that has at least two tasks; 1.0 when none has."""
    multi = [st for st in stages if len(st.run_ms) >= 2]
    if not multi:
        return 1.0
    slowest = max(multi, key=lambda st: sum(st.run_ms))
    return max(slowest.run_ms) / max(statistics.median(slowest.run_ms), 1)
