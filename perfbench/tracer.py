"""In-memory span tracer wrapped around the package's public layer functions.

Spans are recorded from the benchmark's side only: :meth:`Tracer.install`
replaces each public function of the traced layers with a wrapper and
re-binds that wrapper under every name the loaded package modules bound the
original to (``from ..io import load`` copies the function into the importing
module, so patching ``io.load`` alone would miss most callers).
:meth:`Tracer.uninstall` puts the originals back, so an untraced pass runs
exactly the code an untraced run does.

Each span has a name, start, end, parent and a trace id
``(workload, pass, query)``. Spans opened on the client thread also give
their interval their own Spark job group, so the jobs, stages and tasks a
span drives can be read back from the public ``statusTracker`` after the
pass and charged to the span that caused them.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "big_data__instagram_analysis_spark"

JOB_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    trace: tuple
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _public_functions(module) -> list:
    return [
        f
        for n, f in vars(module).items()
        if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == module.__name__
    ]


def traced_functions() -> list[tuple[str, object]]:
    """(span name, function) for every layer function the tracer wraps."""
    session = importlib.import_module(f"{PKG}.session")
    io = importlib.import_module(f"{PKG}.io")
    out = [("session.tune", session.tune), ("io.load", io.load)]
    for sub in ("operators", "sources"):
        pkg = importlib.import_module(f"{PKG}.{sub}")
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            # operators.<module>.<fn> keeps the operator family in the name;
            # sources.<fn> is enough for the two small source modules.
            prefix = f"operators.{info.name}" if sub == "operators" else "sources"
            out += [(f"{prefix}.{f.__name__}", f) for f in _public_functions(mod)]
    harness = importlib.import_module(f"{PKG}.streaming.harness")
    out += [(f"streaming.{f.__name__}", f) for f in _public_functions(harness)]
    return out


class Tracer:
    """Collects spans for one run; wraps and unwraps the layer functions."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.trace: tuple = ()
        self._ids = itertools.count()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        on_main = stack is self._main_stack
        # A span opened on a callback thread (foreachBatch runs Python on a
        # py4j thread while the client thread waits inside the caller's
        # span) is parented to the client thread's innermost open span.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        s = Span(next(self._ids), name, self.trace, parent.id if parent else None, 0.0)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.id)
        if on_main:
            s.group = f"pb-span-{s.id}"
            self.sc.setLocalProperty(JOB_GROUP_PROP, s.group)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if on_main:
                self.sc.setLocalProperty(JOB_GROUP_PROP, stack[-1].group if stack else None)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        originals = {id(f): (name, f) for name, f in traced_functions()}
        wrappers = {k: self._wrap(name, f) for k, (name, f) in originals.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and originals[id(val)][1] is val:
                    setattr(mod, attr, wrappers[id(val)])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in self._patched:
            setattr(mod, attr, val)
        self._patched.clear()

    def count_jobs(self, spans: list[Span], tracker) -> None:
        """Read each span's own job group back from the status tracker."""
        for s in spans:
            if s.group is not None:
                s.jobs, s.stages, s.tasks, s.failed_tasks = job_stats(tracker, s.group)

    def records(self) -> list[dict]:
        by_id = self.by_id()
        return [
            {
                "id": s.id,
                "name": s.name,
                "trace": list(s.trace),
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self_time(s, by_id),
                "jobs": s.jobs,
                "stages": s.stages,
                "tasks": s.tasks,
                "failed_tasks": s.failed_tasks,
            }
            for s in self.spans
        ]

    def by_id(self) -> dict[int, Span]:
        return {s.id: s for s in self.spans}


def job_stats(tracker, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks run, tasks failed) of one job group."""
    jobs = stages = tasks = failed = 0
    for j in tracker.getJobIdsForGroup(group) or []:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        for st in info.stageIds:
            si = tracker.getStageInfo(st)
            ran = 0 if si is None else si.numCompletedTasks + si.numFailedTasks
            if ran == 0:  # skipped: its shuffle output was reused
                continue
            stages += 1
            tasks += ran
            failed += si.numFailedTasks
    return jobs, stages, tasks, failed


def self_time(s: Span, by_id: dict[int, Span]) -> float:
    """Duration minus the part of the interval its child spans cover."""
    intervals = sorted(
        (max(by_id[c].start, s.start), min(by_id[c].end, s.end)) for c in s.children
    )
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in intervals:
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return s.dur - covered


def inclusive(s: Span, by_id: dict[int, Span], attr: str) -> int:
    """A span's own count plus every descendant's."""
    return getattr(s, attr) + sum(inclusive(by_id[c], by_id, attr) for c in s.children)


def outermost(spans: list[Span], by_id: dict[int, Span], pred) -> list[Span]:
    """Spans matching ``pred`` that have no ancestor matching it (no double count)."""
    out = []
    for s in spans:
        if not pred(s):
            continue
        p = s.parent
        while p is not None and not pred(by_id[p]):
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out
