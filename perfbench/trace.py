"""Spans around the calls into the program, and their per-layer fold.

A span records (id, name, start, end, parent, run id) in memory. With
tracing on, each span also becomes the Spark job group of the calls made
inside it, and after the run Spark's own event log (written uncompressed
because the launcher asks for it) is folded onto the spans: every job is
charged to the innermost span whose interval holds its submission time,
with its stages, tasks and task metrics. Streaming progress events from
the same log are charged the same way, by trigger time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    jobs: list = field(default_factory=list)
    progress: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Disabled, ``span`` only yields, so untraced runs
    set no job groups and record nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled, self.run_id = enabled, run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), parent=parent and parent.id,
                 run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"{self.run_id}:{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            # a top-level span's group stays set until the next span
            # starts; nothing runs Spark jobs between operations
            if self.sc is not None and parent is not None:
                self.sc.setJobGroup(f"{self.run_id}:{parent.id}", parent.name)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, "jobs": len(s.jobs),
             "progress_events": len(s.progress)}
            for s in self.spans
        ]


# --- event log fold --------------------------------------------------------

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    result_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _read_log(path: str):
    with open(path) as fh:
        for line in fh:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:  # a log cut short when its app ended
                continue


def _app_logs(log_dir: str) -> list[list[str]]:
    """Each application's event log parts in order (Spark writes one
    rolling-log directory of numbered ``events_<n>_*`` files per app)."""
    return [
        sorted(glob.glob(os.path.join(app, "events_*")),
               key=lambda p: int(os.path.basename(p).split("_")[1]))
        for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    ]


def read_event_logs(log_dir: str) -> tuple[list[Job], list[dict]]:
    """Jobs with their task metrics, and streaming progress records,
    from every application log in ``log_dir``."""
    jobs: list[Job] = []
    progress: list[dict] = []
    for parts in _app_logs(log_dir):
        by_id: dict[int, Job] = {}
        stage_job: dict[int, Job] = {}
        for ev in (e for p in parts for e in _read_log(p)):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                          ev["Submission Time"] / 1000.0)
                by_id[job.id] = job
                jobs.append(job)
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = job
            elif kind == "SparkListenerJobEnd":
                job = by_id.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.stages.add(ev["Stage ID"])
                job.tasks += 1
                job.run_s += m.get("Executor Run Time", 0) / 1e3
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                job.result_bytes += m.get("Result Size", 0)
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            elif kind == _PROGRESS:
                p = ev.get("progress") or {}
                ts = p.get("timestamp")
                if ts:
                    p["_t"] = datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
                    progress.append(p)
    return jobs, progress


def attach(tracer: Tracer, jobs: list[Job], progress: list[dict]) -> None:
    """Charge each job and progress record to the innermost span that
    holds it: by job group when the group names a span, else by time."""
    by_group = {f"{s.run_id}:{s.id}": s for s in tracer.spans}

    def innermost(t: float) -> Span | None:
        best = None
        for s in tracer.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    for job in jobs:
        s = by_group.get(job.group) or innermost(job.submit)
        if s is not None:
            s.jobs.append(job)
    for p in progress:
        s = innermost(p["_t"])
        if s is not None:
            s.progress.append(p)


def input_rows(progress: dict) -> int:
    """Rows a micro-batch read. The event log stores the progress
    object's fields, where the count sits on each source; the query-level
    total is only in the listener's own JSON."""
    if "numInputRows" in progress:
        return progress["numInputRows"]
    return sum(s.get("numInputRows", 0) for s in progress.get("sources") or [])


def subtree(tracer: Tracer, span: Span) -> list[Span]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(tracer.children(s))
    return out


def job_time_covered(jobs: list[Job], lo: float, hi: float) -> float:
    """Length of the union of the jobs' [submit, end] intervals within
    [lo, hi]."""
    ivs = sorted((max(j.submit, lo), min(j.end or hi, hi)) for j in jobs)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered
