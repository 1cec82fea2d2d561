"""Spans recorded from outside the program, joined with Spark's status store.

The tracer wraps public functions of ``pcrawler_spark`` (by patching the
attribute they are looked up through) and records one span per call: name,
start, end, parent and the operation it belongs to.  Each span runs under
its own Spark job group ``<name>#<span id>``, so after the run every job in
``sc._jsc.sc().statusStore()`` can be attributed to exactly one span.
Spans stay in memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import arith

#: job groups whose Spark totals are reported as ``spark.<group>.<field>``
SPARK_GROUPS = ("crawl.run_epoch", "crawl.write_epoch", "crawl.export",
                "extract.pass", "train.pipeline", "ann.query")
SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "driver_gap_s")

#: accounting tolerance: share of a span's wall time, plus a fixed allowance
#: for the millisecond resolution of the status store's timestamps
ACCOUNTING_TOL_SHARE = 0.05
ACCOUNTING_TOL_S = 0.02
#: executor run time must fill at least this share of the time the span's
#: stages ran (4 slots: up to 4x); measured 0.86-3.6 over the traced spans
ACCOUNTING_MIN_FILL = 0.5


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.name}#{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stage_ids: list[int]


@dataclass
class Stage:
    id: int
    start: float
    end: float
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int


class Tracer:
    """In-memory span recorder.  Disabled, its wrappers call straight
    through, so one set of patches serves traced and untraced operations."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.op: int | None = None
        self.spans: list[Span] = []
        self.self_s = 0.0
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op,
                 0.0, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        self.self_s += time.perf_counter() - t_in
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t_out = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(parent.group, parent.name)
            self.self_s += time.perf_counter() - t_out

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Patch ``owner.attr`` so each call is one span.  ``on_result(span,
        result)`` may record counts at the same boundary."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapped(*args, **kwargs):
            with tracer.span(name) as s:
                result = original(*args, **kwargs)
                if s is not None and on_result is not None:
                    on_result(s, result)
                return result

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ | {"group": s.group} for s in self.spans], f)


def read_status_store(sc) -> tuple[list[Job], dict[int, Stage]]:
    """Every job and stage Spark's status store still retains.  A stage
    reused by a later job is listed (as skipped) in that job too; it is
    attributed only to the first job that lists it."""
    store = sc._jsc.sc().statusStore()
    jobs: list[Job] = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub, done = j.submissionTime(), j.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        grp = j.jobGroup()
        sids, sit = [], j.stageIds().iterator()
        while sit.hasNext():
            sids.append(int(sit.next()))
        jobs.append(Job(int(j.jobId()), grp.get() if grp.isDefined() else None,
                        sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0,
                        sids))
    jobs.sort(key=lambda j: j.id)
    stages: dict[int, Stage] = {}
    owner: dict[int, int] = {}
    for j in jobs:
        for sid in j.stage_ids:
            owner.setdefault(sid, j.id)
    for sid in owner:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j error: the stage never ran (skipped)
            continue
        sub, done = sd.submissionTime(), sd.completionTime()
        if str(sd.status()) == "SKIPPED" or not (sub.isDefined() and done.isDefined()):
            continue
        stages[sid] = Stage(
            sid, sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0,
            int(sd.numTasks()), sd.executorRunTime() / 1000.0,
            sd.executorCpuTime() / 1e9, int(sd.shuffleReadBytes()),
            int(sd.shuffleWriteBytes()), int(sd.diskBytesSpilled()))
    for j in jobs:
        j.stage_ids = [sid for sid in j.stage_ids if owner.get(sid) == j.id and sid in stages]
    return jobs, stages


def stage_graph(sc, stage_id: int) -> str:
    """Names of the plan nodes a stage ran (its RDD operation scopes)."""
    g = sc._jsc.sc().statusStore().operationGraphForStage(stage_id)
    names, todo = [], [g.rootCluster()]
    while todo:
        c = todo.pop()
        names.append(str(c.name()))
        it = c.childClusters().iterator()
        while it.hasNext():
            todo.append(it.next())
    return "|".join(names)


class Attribution:
    """Jobs and stages per span, each span including its descendants."""

    def __init__(self, spans: list[Span], jobs: list[Job], stages: dict[int, Stage]):
        self.spans = {s.id: s for s in spans}
        self.stages = stages
        by_group = {s.group: s.id for s in spans}
        # jobs that ran inside a top-level span but carry no span's group
        self.unattributed = 0
        roots = [(s.start, s.end) for s in spans if s.parent is None]
        own: dict[int, list[Job]] = {s.id: [] for s in spans}
        for j in jobs:
            sid = by_group.get(j.group)
            if sid is not None:
                own[sid].append(j)
            elif any(a <= j.start <= b for a, b in roots):
                self.unattributed += 1
        children: dict[int, list[int]] = {s.id: [] for s in spans}
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s.id)
        self.jobs: dict[int, list[Job]] = {}

        def collect(sid: int) -> list[Job]:
            if sid not in self.jobs:
                out = list(own[sid])
                for c in children[sid]:
                    out.extend(collect(c))
                self.jobs[sid] = out
            return self.jobs[sid]

        for s in spans:
            collect(s.id)

    def span_totals(self, sid: int) -> dict:
        s = self.spans[sid]
        jobs = self.jobs[sid]
        st = [self.stages[x] for j in jobs for x in j.stage_ids]
        iv = [(j.start, j.end) for j in jobs]
        return {
            "jobs": len(jobs),
            "stages": len(st),
            "tasks": sum(x.tasks for x in st),
            "executor_run_s": sum(x.run_s for x in st),
            "executor_cpu_s": sum(x.cpu_s for x in st),
            "shuffle_read_bytes": sum(x.shuffle_read for x in st),
            "shuffle_write_bytes": sum(x.shuffle_write for x in st),
            "spill_bytes": sum(x.spill for x in st),
            "driver_gap_s": arith.driver_gap(s.start, s.end, iv),
            "job_stages": [(j.start, j.end, [(self.stages[x].start, self.stages[x].end)
                                             for x in j.stage_ids]) for j in jobs],
        }

    def group_totals(self, name: str) -> dict:
        """Totals over the spans called ``name``."""
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        for s in self.spans.values():
            if s.name == name:
                t = self.span_totals(s.id)
                for f in SPARK_FIELDS:
                    out[f] += t[f]
        return out

    def accounting(self, slots: int) -> tuple[int, int, float]:
        """Check each span of a reported job group: driver gap plus executor
        time must account for its wall time within the stated tolerance (see
        :func:`arith.accounting_residual`).
        Returns (spans checked, spans failed, worst residual share)."""
        checked = failed = 0
        worst = 0.0
        for s in self.spans.values():
            if s.name not in SPARK_GROUPS:
                continue
            t = self.span_totals(s.id)
            resid = arith.accounting_residual(s.start, s.end, t["job_stages"],
                                              t["executor_run_s"], slots,
                                              ACCOUNTING_MIN_FILL)
            checked += 1
            share = resid / s.wall if s.wall > 0 else 0.0
            worst = max(worst, share)
            if resid > ACCOUNTING_TOL_SHARE * s.wall + ACCOUNTING_TOL_S:
                failed += 1
        return checked, failed, worst


def python_stage_totals(sc, att: "Attribution", span_ids: list[int]) -> dict:
    """Totals of the ``MapInPandas`` stages (the Arrow boundary into the
    Python extraction) among the jobs of the given spans."""
    run_s = cpu_s = tasks = 0.0
    for sid in span_ids:
        for j in att.jobs[sid]:
            for x in j.stage_ids:
                st = att.stages[x]
                if "MapInPandas" in stage_graph(sc, st.id):
                    run_s += st.run_s
                    cpu_s += st.cpu_s
                    tasks += st.tasks
    return {"functions.extract_stage_run_s": run_s,
            "functions.extract_stage_cpu_s": cpu_s,
            "functions.extract_stage_tasks": tasks}
