"""Spans, layer wrappers and Spark status-store counters for the traced run.

Everything here observes the program from outside: spans are opened by
the benchmark around its own calls, layer calls are timed by replacing
public functions on their modules for the length of a traced pass, and
engine counters are read from Spark's status store by job group.
"""

from __future__ import annotations

import functools
import inspect
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Module attributes wrapped in a traced pass, by layer. ``None`` wraps
#: every public function the module defines. Raw ``localCheckpoint`` and
#: ``persist`` calls inside the catalog (about 54 sites) are not
#: functions of these modules and are not wrapped: their jobs show only
#: in ``queries.build_jobs``. A query module that bound a name with a
#: top-level ``from blow_spark.ops import f`` also bypasses the wrapper.
LAYER_TARGETS: dict[str, tuple[str, ...] | None] = {
    "materialize": ("spill_to_parquet", "checkpoint_small", "checkpoint_sublinear"),
    "dedup": None,
    "similarity": None,
    "ops": None,
}


@dataclass
class Span:
    """One timed interval in epoch seconds, the clock Spark stamps its
    jobs with; ``parent`` is the index of the enclosing span in
    :attr:`Tracer.spans`, ``None`` for a root."""

    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; nothing is written until :meth:`to_json`."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        s = Span(name, layer, time.time(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def children(self) -> dict[int, list[int]]:
        """Span index → indices of its direct children."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        return kids

    def descendants(self, index: int, kids: dict[int, list[int]]) -> list[int]:
        out, stack = [], list(kids.get(index, ()))
        while stack:
            i = stack.pop()
            out.append(i)
            stack.extend(kids.get(i, ()))
        return out

    def self_time(self, index: int, kids: dict[int, list[int]]) -> float:
        return self_time(self.spans[index], [self.spans[c] for c in kids.get(index, ())])

    def to_json(self) -> list[dict]:
        kids = self.children()
        return [
            {
                "id": i,
                "name": s.name,
                "layer": s.layer,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                "self_s": self.self_time(i, kids),
                "counters": s.counters,
            }
            for i, s in enumerate(self.spans)
        ]


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - covered(span.start, span.end, [(c.start, c.end) for c in children])


def _targets(module, names: tuple[str, ...] | None) -> list[str]:
    if names is not None:
        return list(names)
    return [
        n
        for n, obj in vars(module).items()
        if not n.startswith("_") and inspect.isfunction(obj) and obj.__module__ == module.__name__
    ]


def install_layer_wrappers(tracer: Tracer) -> Callable[[], None]:
    """Replace each :data:`LAYER_TARGETS` function with a span-recording
    wrapper; return the function that puts the originals back."""
    import importlib

    saved: list[tuple[object, str, object]] = []
    for layer, names in LAYER_TARGETS.items():
        module = importlib.import_module(f"blow_spark.{layer}")
        for name in _targets(module, names):
            fn = getattr(module, name)

            def wrapper(*args, _fn=fn, _name=f"{layer}.{name}", _layer=layer, **kwargs):
                with tracer.span(_name, _layer):
                    return _fn(*args, **kwargs)

            saved.append((module, name, fn))
            setattr(module, name, functools.wraps(fn)(wrapper))

    def restore() -> None:
        for module, name, fn in saved:
            setattr(module, name, fn)

    return restore


# -- Spark status store ---------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_counters(spark, group: str) -> dict:
    """Engine counters of every job run under job group ``group``:
    jobs with their [submit, complete] epoch-second intervals, stages
    that ran, tasks, executor run/CPU time and I/O bytes. Read right
    after the group's last job: the store retains a bounded number of
    jobs and stages, so a late read can lose them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    c = {
        "jobs": 0,
        "job_intervals": [],
        "stages": 0,
        "tasks": 0,
        "tasks_failed": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "input_mb": 0.0,
        "output_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
    }
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        c["jobs"] += 1
        job = store.job(job_id)
        start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if start is not None and end is not None:
            c["job_intervals"].append((start, end))
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    mb = 1.0 / (1 << 20)
    for stage_id in stage_ids:
        sd = store.lastStageAttempt(stage_id)
        done = sd.numCompleteTasks()
        if done == 0 and sd.numFailedTasks() == 0:
            continue  # skipped: its output was reused from an earlier stage
        c["stages"] += 1
        c["tasks"] += done + sd.numFailedTasks()
        c["tasks_failed"] += sd.numFailedTasks()
        c["executor_run_s"] += sd.executorRunTime() / 1000.0
        c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        c["input_mb"] += sd.inputBytes() * mb
        c["output_mb"] += sd.outputBytes() * mb
        c["shuffle_read_mb"] += sd.shuffleReadBytes() * mb
        c["shuffle_write_mb"] += sd.shuffleWriteBytes() * mb
        c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) * mb
    return c


# -- per-layer metrics of one traced pass -----------------------------------

_ENGINE = (
    "stages",
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
)

#: Spark stamps jobs in whole milliseconds; a job submitted in the first
#: millisecond of a span can read as up to 1 ms before it.
_STAMP_SLACK_S = 0.001


def innermost(spans: list[Span], candidates: list[int], t: float) -> int | None:
    """The latest-starting candidate span that contains instant ``t``."""
    best = None
    for i in candidates:
        s = spans[i]
        if s.start - _STAMP_SLACK_S <= t <= s.end and (best is None or s.start > spans[best].start):
            best = i
    return best


def layer_metrics(tracer: Tracer, pass_index: int, cores: int) -> dict[str, float]:
    """Per-layer totals over one traced pass (span ``pass_index``); a
    layer the pass did not use is absent."""
    spans, kids = tracer.spans, tracer.children()
    m: dict[str, float] = defaultdict(float)
    query_wall = 0.0
    for qi in kids.get(pass_index, ()):
        op = spans[qi]
        parts = {spans[c].name: spans[c] for c in kids.get(qi, ())}
        build, action = parts.get("build"), parts.get("action")
        if action is None or "jobs" not in action.counters:
            continue  # the operation failed; the run counts it in error_rate
        cb, ca = build.counters, action.counters
        below = tracer.descendants(qi, kids)
        for i in below:
            s = spans[i]
            if s.layer in LAYER_TARGETS:
                m[f"{s.layer}.calls"] += 1
                m["materialize.s" if s.layer == "materialize" else f"{s.layer}.self_s"] += tracer.self_time(i, kids)
        for start, _ in cb["job_intervals"] + ca["job_intervals"]:
            i = innermost(spans, below, start)
            if i is not None and spans[i].layer == "materialize":
                m["materialize.jobs"] += 1
        if op.layer == "queries":
            query_wall += op.duration
            m["queries.build_s"] += build.duration
            m["queries.action_s"] += action.duration
            m["queries.build_jobs"] += cb["jobs"]
            m["queries.action_jobs"] += ca["jobs"]
            for k in _ENGINE:
                m[f"queries.{k}"] += cb[k] + ca[k]
            jobs = cb["job_intervals"] + ca["job_intervals"]
            m["queries.driver_gap_s"] += op.duration - covered(op.start, op.end, jobs)
        else:
            m["pipeline.build_s"] += build.duration
            if action.layer == "sources":
                m["sources.write_s"] += action.duration
                m["sources.output_mb"] += ca["output_mb"]
            else:
                m["pipeline.sink_s"] += action.duration
            for c in (cb, ca):
                m["pipeline.executor_offcpu_s"] += c["executor_run_s"] - c["executor_cpu_s"]
                m["pipeline.shuffle_write_mb"] += c["shuffle_write_mb"]
    if query_wall:
        m["queries.busy_ratio"] = m["queries.executor_run_s"] / (query_wall * cores)
    return dict(m)
