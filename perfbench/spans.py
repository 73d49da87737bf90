"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log parser that attributes jobs, stages and task metrics to
them.

A span is (name, start, end, parent, group): ``group`` is the shared id
of one pass, request or date. With tracing on, each span sets its own
Spark job group on the calling thread, so a job submitted inside it
carries the span id in its ``spark.jobGroup.id`` property. Jobs from
threads the benchmark does not own (the drain's foreachBatch handler,
HTTP handler threads) carry no group; they are attributed by submission
time to the innermost span open at that moment.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds (same clock as the event log)
    end: float
    parent: int | None
    group: str
    thread: int
    label: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is given only for
    traced runs: then every span also sets the thread's job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, group: str | None = None, label: str = ""):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            s = Span(
                sid,
                name,
                0.0,
                0.0,
                parent.id if parent else None,
                group if group is not None else (parent.group if parent else ""),
                threading.get_ident(),
                label,
            )
            self.spans.append(s)
        stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"{GROUP_PREFIX}{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=own[s.id]) for s in self.spans], f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.id: s.wall - union_length(kids[s.id]) for s in spans}


# --- event log ---------------------------------------------------------------


@dataclass
class StageRec:
    stage_id: int
    attempt: int
    submitted: float | None = None
    completed: float | None = None
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class JobRec:
    job_id: int
    submitted: float
    completed: float | None
    group: str | None
    stages: list[StageRec] = field(default_factory=list)


def parse_event_log(lines) -> list[JobRec]:
    """Jobs with their submitted stages and summed task metrics, from an
    uncompressed Spark event log (one JSON event per line). Times are
    epoch seconds."""
    jobs: dict[int, JobRec] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], StageRec] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = JobRec(
                jid, ev["Submission Time"] / 1000.0, None, props.get("spark.jobGroup.id")
            )
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            rec = stages.get(key)
            if rec is None:
                rec = stages[key] = StageRec(*key)
                jid = stage_job.get(key[0])
                if jid is not None and jid in jobs:
                    jobs[jid].stages.append(rec)
            if info.get("Submission Time") is not None:
                rec.submitted = info["Submission Time"] / 1000.0
            if info.get("Completion Time") is not None:
                rec.completed = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            rec = stages.get(key)
            if rec is None:
                continue
            rec.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                rec.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            rec.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            rec.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            rec.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            rec.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            rec.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            rec.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read_event_log(log_dir: str, app_id: str) -> list[JobRec]:
    """Parse the event log ``app_id`` wrote under ``log_dir``: either one
    file named after the application id, or the rolling layout
    ``eventlog_v2_<app>/events_<n>_<app>`` read in index order."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = sorted(
            (f for f in os.listdir(rolled) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(rolled, f) for f in parts]
    else:
        paths = [
            os.path.join(log_dir, n)
            for n in (app_id, app_id + ".inprogress")
            if os.path.exists(os.path.join(log_dir, n))
        ][:1]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")

    def lines():
        for p in paths:
            with open(p, encoding="utf-8") as f:
                yield from f

    return parse_event_log(lines())


@dataclass
class SpanCost:
    """What Spark did on behalf of one span (or a set of spans)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    stage_intervals: list = field(default_factory=list)

    def add_job(self, job: JobRec) -> None:
        self.jobs += 1
        for st in job.stages:
            if st.submitted is None:
                continue  # skipped stage: planned but never run
            self.stages += 1
            for k in (
                "tasks",
                "failed_tasks",
                "executor_run_s",
                "executor_cpu_s",
                "gc_s",
                "shuffle_write_bytes",
                "shuffle_read_bytes",
                "input_bytes",
                "spill_bytes",
            ):
                setattr(self, k, getattr(self, k) + getattr(st, k))
            self.stage_intervals.append((st.submitted, st.completed or st.submitted))

    def sched_gap_s(self, span: Span) -> float:
        """Span wall minus the time any of its stages was running."""
        clipped = [
            (max(s, span.start), min(e, span.end))
            for s, e in self.stage_intervals
            if e > span.start and s < span.end
        ]
        return span.wall - union_length(clipped)


def attribute(spans: list[Span], jobs: list[JobRec]) -> dict[int, SpanCost]:
    """span id -> the Spark work attributed to exactly that span.

    A job whose group names a span belongs to it. Any other job goes to
    the innermost span (latest start) whose interval holds its
    submission time; a job outside every span is dropped."""
    by_id = {s.id: s for s in spans}
    out: dict[int, SpanCost] = defaultdict(SpanCost)
    ordered = sorted(spans, key=lambda s: s.start)
    for job in jobs:
        sid = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            cand = int(job.group[len(GROUP_PREFIX):])
            if cand in by_id:
                sid = cand
        if sid is None:
            best = None
            for s in ordered:
                if s.start > job.submitted:
                    break
                if s.end >= job.submitted:
                    best = s
            if best is None:
                continue
            sid = best.id
        out[sid].add_job(job)
    return out
