"""Span tracer for the traced benchmark run.

Spans are recorded from outside the program: :meth:`Tracer.wrap` replaces
a public function of a program module with a wrapper that opens a span
around each call, and :meth:`Tracer.span` opens one around a block of the
benchmark's own code. Each span gets its own Spark job group, so the jobs,
tasks, failed tasks and task run time it caused are read back from the
status tracker and status store; a span's utilisation is its task run
time over its duration times the cores.
Spans stay in memory; :meth:`Tracer.dump` writes them out at exit.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0  # summed run time of the tasks the span's jobs ran
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it covered by child spans."""
    covered: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            covered.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        busy, last = 0.0, s.start
        for a, b in sorted(covered.get(s.span_id, [])):
            a, b = max(a, last), min(b, s.end)
            if b > a:
                busy += b - a
                last = b
        out[s.span_id] = (s.end - s.start) - busy
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.trace_id = "setup"
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, next(self._ids), parent.span_id if parent else None, self.trace_id, 0.0)
        s.group = f"perfbench-{s.span_id}"
        self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def wrap(self, module, fn_name: str, span_name: str) -> None:
        """Open a span named ``span_name`` around every call of
        ``module.fn_name`` until :meth:`unwrap_all`."""
        original = getattr(module, fn_name)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        setattr(module, fn_name, traced)
        self._patched.append((module, fn_name, original))

    def unwrap_all(self) -> None:
        for module, fn_name, original in reversed(self._patched):
            setattr(module, fn_name, original)
        self._patched.clear()

    def resolve_jobs(self) -> None:
        """Fill jobs/tasks/failed_tasks/task_s of the spans from their job
        groups; call once, after the last span. Waits for the listener bus first, so the status store
        has seen every job end."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for s in self.spans:
            if not s.group:
                continue
            for jid in tracker.getJobIdsForGroup(s.group):
                job = tracker.getJobInfo(jid)
                if job is None:
                    continue
                s.jobs += 1
                for sid in job.stageIds:
                    if tracker.getStageInfo(sid) is None:
                        continue
                    st = store.lastStageAttempt(sid)
                    s.tasks += st.numCompleteTasks() + st.numFailedTasks()
                    s.failed_tasks += st.numFailedTasks()
                    s.task_s += st.executorRunTime() / 1000

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def span_metrics(spans: list[Span], trace_ids: list[str], cores: int) -> dict[str, dict[str, float]]:
    """Per span name: the median over the traces in ``trace_ids`` that hold
    it of the per-trace sums of inclusive time ``s``, ``self_s``, inclusive
    jobs/tasks/failed_tasks/task_s (a span's counts plus its
    descendants') and numeric attributes, and ``util``, task_s over
    s times ``cores``. A probe span (attribute ``probe_s``) reports its
    probe time, scan subtracted, as both ``s`` and ``self_s``."""
    selfs = self_times(spans)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def inclusive(s: Span, attr: str) -> int:
        return getattr(s, attr) + sum(inclusive(c, attr) for c in children.get(s.span_id, []))

    per_name: dict[str, dict[str, list[float]]] = {}
    for tid in trace_ids:
        sums: dict[str, dict[str, float]] = {}
        for s in spans:
            if s.trace_id != tid:
                continue
            acc = sums.setdefault(s.name, dict(s=0.0, self_s=0.0, jobs=0, tasks=0, failed_tasks=0, task_s=0.0))
            probe = s.attrs.get("probe_s")
            acc["s"] += s.end - s.start if probe is None else probe
            acc["self_s"] += selfs[s.span_id] if probe is None else probe
            for attr in ("jobs", "tasks", "failed_tasks", "task_s"):
                acc[attr] += inclusive(s, attr)
            for k, v in s.attrs.items():
                if k != "probe_s":
                    acc[k] = acc.get(k, 0) + v
        for name, acc in sums.items():
            acc["util"] = acc["task_s"] / (acc["s"] * cores) if acc["s"] > 0 else 0.0
            for q, v in acc.items():
                per_name.setdefault(name, {}).setdefault(q, []).append(v)
    return {name: {q: statistics.median(vs) for q, vs in qs.items()} for name, qs in per_name.items()}
