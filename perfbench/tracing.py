"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's own files: ``Recorder.wrap``
replaces a public function or method of the program with a wrapper
that opens a span around the call.  Each span gets its own Spark job
group, so the jobs a span submits outside its child spans can be
looked up with ``statusTracker().getJobIdsForGroup``; task and byte
metrics come from the Spark event log of the traced run.  Nothing here
runs unless the benchmark asks for a traced run.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Spans kept in memory, each with its parent, start and end (epoch
    seconds, the clock of the Spark event log)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.enabled = True

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", span.group if span else None
            )

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr`` while the recorder is enabled."""
        original = vars(owner)[attr]

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children(s)
        return out

    def attach_jobs(self, status_tracker) -> None:
        for s in self.spans:
            s.jobs = sorted(status_tracker.getJobIdsForGroup(s.group))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "sid": s.sid, "name": s.name, "parent": s.parent,
                        "start": s.start, "end": s.end, "jobs": s.jobs,
                    }
                    for s in self.spans
                ],
                f,
            )


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def self_time(span: Span, children: list[Span]) -> float:
    """Span wall time minus the part of it its child spans cover."""
    return span.wall - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


# ----------------------------------------------------------- event log

_TASK_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "input_mb", "output_mb",
    "shuffle_read_mb", "shuffle_write_mb",
)
SPARK_METRICS = ("jobs", "stages", "tasks", "job_s") + _TASK_FIELDS


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per Spark job: submit/complete time (epoch s) and the summed
    metrics of the stages it ran.  A stage is charged to the first job
    that lists it; later jobs that list it skip it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = dict(
                        submit=ev["Submission Time"] / 1000.0,
                        complete=ev["Submission Time"] / 1000.0,
                        stages=0, tasks=0,
                        **{k: 0.0 for k in _TASK_FIELDS},
                    )
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["complete"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["executor_run_s"] += m["Executor Run Time"] / 1e3
                    j["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    j["gc_s"] += m["JVM GC Time"] / 1e3
                    j["input_mb"] += m["Input Metrics"]["Bytes Read"] / 1e6
                    j["output_mb"] += m["Output Metrics"]["Bytes Written"] / 1e6
                    sr = m["Shuffle Read Metrics"]
                    j["shuffle_read_mb"] += (
                        sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    ) / 1e6
                    j["shuffle_write_mb"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                    )
    return jobs


def spark_totals(job_ids, jobs: dict[int, dict]) -> dict[str, float]:
    """``spark.*`` metrics summed over ``job_ids``."""
    out = {k: 0.0 for k in SPARK_METRICS}
    for jid in job_ids:
        j = jobs.get(jid)
        if j is None:
            continue
        out["jobs"] += 1
        out["job_s"] += j["complete"] - j["submit"]
        for k in ("stages", "tasks") + _TASK_FIELDS:
            out[k] += j[k]
    return out
