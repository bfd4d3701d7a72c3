"""Spans around calls into the engine, Spark's event log, and the join of the two.

The traced run wraps the engine's entry points on the objects and modules
the benchmark builds (the engine itself is not edited), keeps every span in
memory, and after the Spark session stops reads the session's event log.
Each Spark job is attached to the innermost span open when it was submitted;
each span also sets a job group, so that attribution can be cross-checked
against ``statusTracker()``.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None  # the cycle (epoch / rep) this span belongs to
    start: float  # epoch seconds, comparable with the event log's clock
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; optionally labels Spark jobs with the open span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._label_jobs(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._label_jobs(parent)

    def _label_jobs(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a method on an instance, or a function
        in a module) by a version that runs inside a span ``name``."""
        orig = getattr(owner, attr)
        own = attr in vars(owner)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig, own))

    def wrap_result(self, owner, attr: str, method: str, name: str) -> None:
        """Wrap ``owner.attr`` so that ``method`` of each object it returns
        runs inside a span — for functions that return a lazy DataFrame
        whose caller triggers the job (``lineage_metrics(...).collect()``)."""
        orig = getattr(owner, attr)
        own = attr in vars(owner)

        @functools.wraps(orig)
        def returning_traced(*args, **kwargs):
            result = orig(*args, **kwargs)
            inner = getattr(result, method)

            def traced(*a, **k):
                with self.span(name):
                    return inner(*a, **k)

            setattr(result, method, traced)
            return result

        setattr(owner, attr, returning_traced)
        self._patched.append((owner, attr, orig, own))

    def restore(self) -> None:
        for owner, attr, orig, own in reversed(self._patched):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patched.clear()


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    group: str | None = None
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0


def parse_event_log(lines) -> dict[int, Job]:
    """Jobs, their declared stages and summed task metrics from a Spark
    JSON event log. A stage's tasks count toward the first job that
    declared the stage; later jobs that list it reuse its output (skipped)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                ev["Job ID"],
                ev["Submission Time"] / 1000.0,
                stages=list(ev.get("Stage IDs", [])),
                group=props.get("spark.jobGroup.id"),
            )
            jobs[job.id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            job = jobs[jid]
            job.tasks += 1
            info = ev.get("Task Info") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                job.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out = m.get("Output Metrics") or {}
            job.output_bytes += out.get("Bytes Written", 0)
            job.output_records += out.get("Records Written", 0)
    return jobs


#: the event log stamps jobs in whole milliseconds (floored), the spans in
#: microseconds: a job submitted right after a span opened can read up to
#: 1 ms earlier than the span's start
_CLOCK_SLACK_S = 0.001


def attribute(jobs: dict[int, Job], spans: list[Span]) -> dict[int, int | None]:
    """Job id → id of the innermost span open at the job's submission
    (``None`` for jobs outside every span, such as set-up work)."""
    out: dict[int, int | None] = {}
    for job in jobs.values():
        best = None
        for s in spans:
            if s.start - _CLOCK_SLACK_S <= job.submit <= s.end:
                if best is None or (s.start, s.id) > (best.start, best.id):
                    best = s
        out[job.id] = best.id if best else None
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Trace:
    """Spans joined with the jobs attributed to them."""

    def __init__(self, spans: list[Span], jobs: dict[int, Job]):
        self.spans = spans
        self.jobs = jobs
        self.job_span = attribute(jobs, spans)
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s.id)
        self.direct_jobs: dict[int, list[Job]] = {}
        for jid, sid in self.job_span.items():
            if sid is not None:
                self.direct_jobs.setdefault(sid, []).append(jobs[jid])

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, ()))
        return out

    def jobs_under(self, sid: int) -> list[Job]:
        return [j for s in self.subtree(sid) for j in self.direct_jobs.get(s, ())]

    def self_time(self, sid: int) -> float:
        """Span wall minus the part covered by its child spans and by the
        jobs attached directly to it."""
        s = self.spans[sid]
        parts = [(self.spans[c].start, self.spans[c].end) for c in self.children.get(sid, ())]
        parts += [(j.submit, j.end) for j in self.direct_jobs.get(sid, ())]
        return s.wall - covered(parts, s.start, s.end)

    def driver_time(self, sid: int) -> float:
        """Span wall minus the time any Spark job under it was running."""
        s = self.spans[sid]
        return s.wall - covered([(j.submit, j.end) for j in self.jobs_under(sid)], s.start, s.end)

    def group_mismatches(self, groups: dict[str, list[int]]) -> int:
        """Jobs whose time-based span differs from the job group
        ``statusTracker()`` reported for them."""
        by_group = {jid: g for g, jids in groups.items() for jid in jids}
        return sum(
            1
            for jid, sid in self.job_span.items()
            if sid is not None and by_group.get(jid) != self.spans[sid].group
        )
