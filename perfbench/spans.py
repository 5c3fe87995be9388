"""In-memory spans, a span-emitting ``StageTimers``, and the Spark
event-log parser that attributes jobs and tasks to spans by time.

Spans carry wall-clock epoch seconds (``time.time()``) so they line up
with the millisecond timestamps Spark writes to its event log.
"""

from __future__ import annotations

import dataclasses
import json
import time
from contextlib import contextmanager

from rnadam_spark import instrument as ins

# Timers.scala stage names -> span names
STAGE_SPANS = {
    ins.EXTRACT: "index.extract",
    ins.SPLIT_KMERS: "index.split_kmers",
    ins.GENERATE_CLASSES: "index.generate_classes",
    ins.GENERATE_INDICES: "index.generate_indices",
    ins.EXTRACT_LENGTHS: "quantify.extract_lengths",
    ins.COUNT_KMERS: "quantify.count_kmers",
    ins.TARE_KMERS: "tare.kmers",
    ins.COUNT_CLASSES: "quantify.count_classes",
    ins.NORMALIZING: "quantify.normalizing",
    ins.INIT_EM: "quantify.init_em",
    ins.EM_ITER: "quantify.em_iter",
    ins.E_STAGE: "quantify.e_step",
    ins.M_STAGE: "quantify.m_step",
    ins.CAL_LENGTH: "tare.length",
}


@dataclasses.dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; the innermost open span is the parent of
    the next one opened."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._open[-1] if self._open else None, time.time())
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        covered = union_seconds(
            [(max(c.start, span.start), min(c.end, span.end)) for c in self.children(span)]
        )
        return span.seconds - covered

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name`` (a stage run
        once per EM iteration adds up, as the reference's timers do)."""
        return sum(s.seconds for s in self.spans if s.name == name)


class SpanTimers(ins.StageTimers):
    """A ``StageTimers`` for the public ``timers=`` parameter of
    ``build_index``/``quantify`` that also opens a child span per stage."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self.tracer = tracer

    @contextmanager
    def stage(self, name: str):
        with self.tracer.span(STAGE_SPANS.get(name, name)), super().stage(name):
            yield


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclasses.dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float


@dataclasses.dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    failed: bool
    run_s: float
    cpu_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


def parse_event_log(lines) -> tuple[list[Job], list[Task], set[int]]:
    """(jobs, tasks, stage ids) from an uncompressed, non-rolling Spark
    JSON event log. Stages that never ran (skipped) are not counted."""
    starts: dict[int, dict] = {}
    jobs: list[Job] = []
    tasks: list[Task] = []
    stages: set[int] = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = ev
        elif kind == "SparkListenerJobEnd":
            st = starts.pop(ev["Job ID"], None)
            if st is None:
                continue
            jobs.append(Job(ev["Job ID"], st["Submission Time"] / 1e3, ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerStageCompleted":
            stages.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics", {})
            tasks.append(Task(
                ev["Stage ID"],
                info["Launch Time"] / 1e3,
                bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
                m.get("Executor Run Time", 0) / 1e3,
                m.get("Executor CPU Time", 0) / 1e9,
                read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            ))
    return jobs, tasks, stages


def spark_layer(jobs: list[Job], tasks: list[Task], stages: set[int], start: float, end: float) -> dict:
    """Event-log totals for the jobs submitted and tasks launched inside
    [start, end]; driver time outside jobs is the window minus the union
    of those jobs' lifetimes."""
    js = [j for j in jobs if start <= j.submit <= end]
    ts = [t for t in tasks if start <= t.launch <= end]
    ran = {t.stage for t in ts} & stages
    return {
        "jobs": len(js),
        "stages": len(ran),
        "tasks": len(ts),
        "failed_tasks": sum(t.failed for t in ts),
        "executor_run_s": sum(t.run_s for t in ts),
        "executor_cpu_s": sum(t.cpu_s for t in ts),
        "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in ts),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in ts),
        "spill_bytes": sum(t.spill_bytes for t in ts),
        "driver_outside_jobs_s": (end - start)
        - union_seconds([(max(j.submit, start), min(j.end, end)) for j in js]),
    }


def by_span(tracer: Tracer, jobs: list[Job], tasks: list[Task]) -> dict[str, dict]:
    """Per span name: inclusive and self seconds, and the jobs and tasks
    whose start falls in that span's own time (innermost span wins)."""

    def innermost(t: float) -> Span | None:
        inside = [s for s in tracer.spans if s.start <= t <= s.end]
        return max(inside, key=lambda s: s.start) if inside else None

    out: dict[str, dict] = {}
    for s in tracer.spans:
        row = out.setdefault(s.name, {"s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0, "cpu_s": 0.0})
        row["s"] += s.seconds
        row["self_s"] += tracer.self_seconds(s)
    for j in jobs:
        s = innermost(j.submit)
        if s is not None:
            out[s.name]["jobs"] += 1
    for t in tasks:
        s = innermost(t.launch)
        if s is not None:
            out[s.name]["tasks"] += 1
            out[s.name]["cpu_s"] += t.cpu_s
    return out
