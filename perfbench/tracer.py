"""Outside-in span tracer for the benchmark's traced runs.

Spans are recorded around calls into the engine's public functions by
patching each name where its callers look it up; no engine file knows
about the tracer. Every span also sets the Spark job group of its thread
to its own id, so the jobs a call runs are attributed to the innermost
span open when they were submitted (read back from the status tracker
after the run, outside the timed region).

A span's self time is its wall time minus the part of that interval its
child spans cover. For spans whose children run one after another on one
thread, the self times of a subtree sum to the root's wall time.
"""
from __future__ import annotations

import contextlib
import functools
import itertools
import re
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

from py4j.protocol import Py4JJavaError

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    group is set per span; pass None to record spans without Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread().ident
        self._main_stack: list = []
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if threading.get_ident() == self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _parent(self, stack: list) -> Optional[int]:
        if stack:
            return stack[-1].sid
        # a planning pool thread: its caller is the innermost span open
        # on the main thread (the engine's only fan-out is under add_task)
        return self._main_stack[-1].sid if self._main_stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            s = Span(next(self._ids), name, self._parent(stack), 0.0)
            self.spans.append(s)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{s.sid}")
        stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(GROUP_KEY, prev)

    # ------------------------------------------------------------ analysis
    def children(self) -> dict:
        out: dict = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict:
        """{sid: wall minus the union of its children's intervals}."""
        kids = self.children()
        return {
            s.sid: s.wall - union_length(
                [(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end
            )
            for s in self.spans
        }

    def subtree(self, sid: int) -> list:
        kids = self.children()
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c.sid for c in kids.get(cur, []))
        return out

    def named(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]

    def outermost(self, names: set) -> list:
        """Spans named in ``names`` with no ancestor also in ``names``."""
        by_id = {s.sid: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name not in names:
                continue
            p = s.parent
            while p is not None and by_id[p].name not in names:
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out

    def harvest_jobs(self) -> None:
        """Attach the Spark job ids of each span's job group."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if not s.jobs:
                s.jobs = sorted(tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{s.sid}"))

    def dump(self) -> list:
        selfs = self.self_times()
        return [
            {
                "id": s.sid, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end, "wall_s": s.wall,
                "self_s": selfs[s.sid], "jobs": s.jobs, **s.attrs,
            }
            for s in self.spans
        ]


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------------ patching
class Patches:
    """Replace callables with traced wrappers; ``restore`` undoes all."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list = []

    def _wrapper(self, fn: Callable, name: str, before, after) -> Callable:
        tracer = self.tracer

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            ctx = before(args, kwargs) if before else None
            with tracer.span(name) as s:
                result = fn(*args, **kwargs)
            if after:
                after(s, ctx, args, kwargs, result)
            return result

        return traced

    def method(self, cls, attr: str, name: str, before=None, after=None) -> None:
        fn = cls.__dict__[attr]
        self._undo.append((cls, attr, fn))
        setattr(cls, attr, self._wrapper(fn, name, before, after))

    def function(self, module, attr: str, name: str, before=None, after=None) -> None:
        """Wrap ``module.attr`` and every loaded ``chillastic_spark``
        module that imported the same object under the same name."""
        fn = getattr(module, attr)
        wrapped = self._wrapper(fn, name, before, after)
        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and getattr(mod, "__name__", "").startswith("chillastic_spark")
                and getattr(mod, attr, None) is fn
            ):
                self._undo.append((mod, attr, fn))
                setattr(mod, attr, wrapped)

    def restore(self) -> None:
        for obj, attr, fn in reversed(self._undo):
            setattr(obj, attr, fn)
        self._undo.clear()


# -------------------------------------------------------------- spark data
def job_table(sc, job_ids) -> dict:
    """{job_id: (submit_s, complete_s, [stage ids])} from the status store."""
    store = sc._jsc.sc().statusStore()
    out = {}
    for j in job_ids:
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        stages = jd.stageIds()
        out[j] = (
            sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            done.get().getTime() / 1000.0 if done.isDefined() else None,
            [stages.apply(i) for i in range(stages.size())],
        )
    return out


STAGE_FIELDS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
    "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def stage_table(sc, stage_ids) -> dict:
    """{stage_id: metrics} for stages that ran (skipped stages omitted)."""
    store = sc._jsc.sc().statusStore()
    out = {}
    for s in stage_ids:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # a stage the store no longer (or never) held
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out[s] = {
            "tasks": sd.numCompleteTasks(),
            "executor_run_s": sd.executorRunTime() / 1e3,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_bytes": sd.inputBytes(),
            "output_bytes": sd.outputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }
    return out


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric: '1,000' or 'total (...)\\n2.7 s (...)'."""
    m = re.match(r"\s*([\d,.]+)\s*(ms|s|m|h)?", text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def python_node_metrics(spark, job_ids: set) -> dict:
    """Summed SQL metrics of the MapInPandas plan nodes over the SQL
    executions that ran any of ``job_ids``. Each execution reports only
    the updates its own jobs made, so a cached subplan that shows up in
    a later plan adds zero there."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out: dict = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        jobs = e.jobs()
        if not any(jobs.contains(j) for j in job_ids):
            continue
        eid = e.executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            n = nodes.apply(k)
            if n.name() != "MapInPandas":
                continue
            ms = n.metrics()
            for m in range(ms.size()):
                pm = ms.apply(m)
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    out[pm.name()] = out.get(pm.name(), 0.0) + _metric_value(v.get())
    return out
