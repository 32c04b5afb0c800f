"""Spans recorded around calls into the engine, and their attribution
to Spark's own event log.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, op
id) and writes them out once, at the end of a run. :func:`read_event_log`
reads an uncompressed Spark event log into jobs with their stage and
task metrics; :func:`attribute` hands each job to the innermost span
whose interval holds the job's submission time. Matching by time, not
by job description, is what catches jobs submitted from engine-owned
worker threads, which do not inherit the caller's description.
"""

from __future__ import annotations

import bisect
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: SQL metrics the Python exec nodes report per task (pyspark 4.1.2),
#: mapped to the layer metric they feed and the scale to SI units:
#: ``timing`` metrics are milliseconds, ``size`` metrics bytes.
PY_METRICS = {
    "time to start Python workers": ("operators.py_start_s", 1e-3),
    "time to initialize Python workers": ("operators.py_init_s", 1e-3),
    "time to run Python workers": ("operators.py_run_s", 1e-3),
    "data sent to Python workers": ("operators.py_bytes_out", 1.0),
    "data returned from Python workers": ("operators.py_bytes_back", 1.0),
}


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder for one single-threaded client loop.
    Records only while ``enabled`` and ``active`` (the timed pass)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not (self.enabled and self.active):
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    stages: list[int]
    stages_run: set[int] = field(default_factory=set)  # stages with tasks
    tasks: int = 0
    metrics: dict[str, float] = field(default_factory=dict)


def _add(d: dict[str, float], key: str, v: float) -> None:
    d[key] = d.get(key, 0.0) + v


def _task_metrics(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    out = {
        "spark.task_s": tm.get("Executor Run Time", 0) / 1e3,
        "spark.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "spark.shuffle_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        ),
        "spark.spill_bytes": tm.get("Disk Bytes Spilled", 0),
        "sources.input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        hit = PY_METRICS.get(acc.get("Name"))
        if hit and acc.get("Update") is not None:
            _add(out, hit[0], float(acc["Update"]) * hit[1])
    return out


def read_event_log(path: str) -> list[Job]:
    """Jobs in submission order, each with its task count and summed
    task metrics (every metric of :func:`_task_metrics`)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"] / 1e3, ev["Stage IDs"])
                jobs[job.id] = job
                for sid in job.stages:
                    stage_job[sid] = job.id
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                if job is None:
                    continue
                job.tasks += 1
                job.stages_run.add(ev["Stage ID"])
                for k, v in _task_metrics(ev).items():
                    _add(job.metrics, k, v)
    return sorted(jobs.values(), key=lambda j: (j.submitted, j.id))


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """span id → jobs submitted while it was the innermost open span.
    Jobs outside every span are dropped."""
    depth: dict[int, int] = {}
    for s in spans:  # parents precede children
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    order = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in order]
    out: dict[int, list[Job]] = {}
    for job in jobs:
        # submission times are whole milliseconds, truncated: the job
        # ran somewhere in [submitted, submitted + 1 ms). Of the spans
        # open then, the innermost wins, then the latest opened.
        i = bisect.bisect_right(starts, job.submitted + 1e-3)
        best = None
        for s in order[:i]:
            if s.end >= job.submitted and (
                best is None or depth[s.id] >= depth[best.id]
            ):
                best = s
        if best is not None:
            out.setdefault(best.id, []).append(job)
    return out


def self_seconds(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part its direct children cover."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id
    )
    covered, reach = 0.0, span.start
    for a, b in kids:
        a = max(a, reach)
        if b > a:
            covered += b - a
            reach = b
    return (span.end - span.start) - covered
