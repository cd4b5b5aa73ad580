"""Spans around calls into the program, with Spark jobs attributed to them.

A ``Tracer`` records one span per call: name, parent span, start and end.
While a span is open its id is the Spark job group, so every job the call
starts is tagged with it. ``instrument`` wraps public functions of the
program's layer modules in spans from the outside: the program itself is
not edited. ``attribute`` reads the finished jobs back from the session's
status store (job ids and task counts through ``statusTracker()``; job
times, executor run time and shuffle bytes through the status REST API on
the driver's own UI port) and joins them onto the spans.

With tracing disabled, wrapped functions call straight through and no job
group is set, so untraced ops run the same code as before instrumentation.
"""

from __future__ import annotations

import calendar
import functools
import importlib
import itertools
import json
import sys
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

import numpy as np

PROGRAM_PREFIX = "pq_vector_spark"


class Span:
    __slots__ = ("id", "parent", "name", "t0", "t1", "epoch0", "epoch1", "attrs")

    def __init__(self, sid, parent, name):
        self.id = sid
        self.parent = parent
        self.name = name
        self.t0 = time.perf_counter()
        self.epoch0 = time.time()
        self.t1 = None
        self.epoch1 = None
        self.attrs = {}

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Span recorder. ``enabled`` switches recording on and off between ops,
    so one run can interleave traced and untraced ops."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._sc = None

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    def _set_group(self, span) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), parent.id if parent else None, name)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.epoch1 = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(sp)


def instrument(tracer: Tracer, targets) -> None:
    """Wrap each ``(module, function, span_name)`` in a span.

    Every loaded program module that binds the same function object under
    that name is patched too (``index.build`` imports ``train_kmeans`` from
    ``index.kmeans``; the package root re-exports ``build_index``), so a
    call is traced whichever namespace it goes through."""
    for module_name, func_name, span_name in targets:
        module = importlib.import_module(module_name)
        original = getattr(module, func_name)
        wrapper = _wrap(tracer, original, span_name)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.split(".")[0] == PROGRAM_PREFIX and vars(mod).get(func_name) is original:
                setattr(mod, func_name, wrapper)


def _wrap(tracer: Tracer, original, span_name: str):
    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name) as sp:
            result = original(*args, **kwargs)
            if sp is not None and isinstance(result, np.ndarray):
                sp.attrs["rows"] = int(result.shape[0])  # e.g. the k-means sample
            return result

    return wrapper


def _epoch(stamp: str | None) -> float | None:
    """Status API time ('2026-01-02T03:04:05.678GMT') as epoch seconds."""
    if not stamp:
        return None
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


def _rest(sc, path: str):
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return json.load(resp)


def attribute(tracer: Tracer, spark_context, timeout_s: float = 30.0) -> dict:
    """Join finished Spark jobs onto spans. Returns ``{span_id: [job, ...]}``
    where each job is a dict with start/end epoch seconds, task counts,
    executor run seconds and shuffle bytes written."""
    if not spark_context.uiWebUrl:
        raise RuntimeError("tracing needs the Spark UI status API (spark.ui.enabled)")
    tracker = spark_context.statusTracker()
    by_group = {}
    for sp in tracer.spans:
        for jid in tracker.getJobIdsForGroup(sp.group):
            by_group[jid] = sp.id
    # the status store is fed by an asynchronous listener: wait until every
    # attributed job reads as finished
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = {j["jobId"]: j for j in _rest(spark_context, "/jobs")}
        pending = [
            jid for jid in by_group
            if jid not in jobs or jobs[jid]["status"] == "RUNNING"
            or not jobs[jid].get("completionTime")
        ]
        if not pending:
            break
        if time.monotonic() > deadline:
            raise RuntimeError(f"status store never finished jobs {pending[:5]}")
        time.sleep(0.2)
    stages = {}
    for st in _rest(spark_context, "/stages"):
        # keep the latest attempt of each stage
        if st["stageId"] not in stages or st["attemptId"] > stages[st["stageId"]]["attemptId"]:
            stages[st["stageId"]] = st
    out: dict = {}
    counted = set()
    for jid, sid in sorted(by_group.items()):
        j = jobs[jid]
        run_ms = 0
        shuffle = 0
        tasks = 0
        failed = 0
        for stage_id in j.get("stageIds", []):
            # a shuffle stage reused by a later job is listed there too but
            # ran once: count it for the first job only
            if stage_id in counted:
                continue
            counted.add(stage_id)
            info = tracker.getStageInfo(stage_id)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
            st = stages.get(stage_id)
            if st is not None and st.get("status") != "SKIPPED":
                run_ms += st.get("executorRunTime", 0)
                shuffle += st.get("shuffleWriteBytes", 0)
        out.setdefault(sid, []).append(
            {
                "job": jid,
                "start": _epoch(j.get("submissionTime")),
                "end": _epoch(j.get("completionTime")),
                "tasks": tasks,
                "failed_tasks": failed,
                "executor_run_s": run_ms / 1000.0,
                "shuffle_write_bytes": shuffle,
            }
        )
    return out


def _union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if a is not None and b is not None
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SpanTree:
    """Inclusive Spark counts and self time per span, from ``attribute``."""

    def __init__(self, tracer: Tracer, jobs_by_span: dict):
        self.spans = {sp.id: sp for sp in tracer.spans}
        self.children: dict = {}
        for sp in tracer.spans:
            if sp.parent is not None:
                self.children.setdefault(sp.parent, []).append(sp.id)
        self.own_jobs = jobs_by_span

    def subtree(self, sid):
        stack, out = [sid], []
        while stack:
            cur = stack.pop()
            out.append(cur)
            stack.extend(self.children.get(cur, []))
        return out

    def jobs(self, sid) -> list:
        return [j for s in self.subtree(sid) for j in self.own_jobs.get(s, [])]

    def stats(self, sid) -> dict:
        sp = self.spans[sid]
        jobs = self.jobs(sid)
        job_s = _union_seconds([(j["start"], j["end"]) for j in jobs], sp.epoch0, sp.epoch1)
        child_s = _union_seconds(
            [(self.spans[c].epoch0, self.spans[c].epoch1) for c in self.children.get(sid, [])],
            sp.epoch0,
            sp.epoch1,
        )
        return {
            "wall_s": sp.wall,
            "self_s": max(0.0, sp.wall - child_s),
            "job_s": job_s,
            "driver_s": max(0.0, sp.wall - job_s),
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "failed_tasks": sum(j["failed_tasks"] for j in jobs),
            "executor_run_s": sum(j["executor_run_s"] for j in jobs),
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        }

    def by_name(self, name: str, roots) -> list:
        """Stats of every span called ``name`` under ``roots``."""
        ids = [s for r in roots for s in self.subtree(r)]
        return [self.stats(s) for s in ids if self.spans[s].name == name]
