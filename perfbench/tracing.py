"""Traced-run machinery: spans around each layer's public entry points,
Spark job groups per span, and a digest of Spark's event log that
bills jobs, executor time, GC and shuffle bytes to layers.

Nothing in the package is edited. ``Tracer.install`` replaces a few
public methods with wrappers that open a span; ``Tracer.uninstall``
puts the originals back. Every span sets the Spark job group of its
thread to ``pb-<span id>``, so each job in the event log names the
span (and so the layer) that launched it. The crawl's fused
fetch+parse staging write runs inline in ``plans/crawl.py`` with no
entry point to wrap; its jobs are found by their output path
(``.../stage/fetched-r<N>``) among the write arguments of the SQL
execution's plan (later jobs that only read the staged file do not
match).

Spans live in memory and are written out (``dump``) when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import re
import statistics
import threading
import time
from dataclasses import asdict, dataclass

GROUP_KEY = "spark.jobGroup.id"
# the formatted plan of a parquet write names its target as
# "Arguments: file:/<root>/stage/fetched-r<N>, false, Parquet, ..."
FETCH_STAGE_WRITE = re.compile(r"Arguments: \S*/stage/fetched-r\d+,")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float              # epoch seconds, the clock Spark logs in
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on threads the crawl starts itself
        self._root: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        is_root = self._root is None
        if is_root:
            self._root = sid
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"pb-{sid}")
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            if is_root:
                self._root = None
            with self._lock:
                self.spans.append(Span(sid, name, parent, start, end))

    # -- wrappers ---------------------------------------------------------

    def _wrap(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name_of(args, kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the layer entry points the crawl loop calls."""
        from simplecrawler_spark.operators.robots import RobotsState
        from simplecrawler_spark.operators.seen import BloomSeen
        from simplecrawler_spark.plans.tables import SnapshotStore

        def table_name(args, kwargs):
            table = args[1] if len(args) > 1 else kwargs["table"]
            return f"tables.append.{table}"

        def fixed(name):
            return lambda args, kwargs: name

        self._wrap(SnapshotStore, "append", table_name)
        self._wrap(SnapshotStore, "commit_snapshot", fixed("tables.commit"))
        self._wrap(BloomSeen, "__init__", fixed("seen.bloom_new"))
        self._wrap(BloomSeen, "add_df", fixed("seen.bloom_add"))
        self._wrap(BloomSeen, "save", fixed("seen.bloom_save"))
        self._wrap(RobotsState, "split_missing", fixed("robots.split_missing"))
        self._wrap(RobotsState, "register_fetched", fixed("robots.register"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


# -- interval arithmetic ---------------------------------------------------

def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def self_times(spans: list[Span], extra_children=()) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover.
    ``extra_children`` adds (parent id, start, end) intervals that are
    not spans (the fetch stage's SQL executions)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    for parent, a, b in extra_children:
        kids.setdefault(parent, []).append((a, b))
    return {s.sid: s.dur - union_length(kids.get(s.sid, []), s.start, s.end)
            for s in spans}


# -- event log digest ------------------------------------------------------

@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    group: str | None
    execution: int | None
    stages: list[int]


@dataclass
class Task:
    run_s: float
    gc_s: float
    shuffle_bytes: int
    dur_s: float


class EventLog:
    """Jobs, tasks per stage and SQL executions from an uncompressed,
    non-rolling Spark event log directory."""

    def __init__(self, directory: str):
        self.jobs: dict[int, Job] = {}
        self.tasks: dict[int, list[Task]] = {}
        self.executions: dict[int, dict] = {}
        for name in sorted(os.listdir(directory)):
            with open(os.path.join(directory, name)) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exe = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                props.get(GROUP_KEY), int(exe) if exe else None,
                list(ev["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.setdefault(ev["Stage ID"], []).append(Task(
                m.get("Executor Run Time", 0) / 1000.0,
                m.get("JVM GC Time", 0) / 1000.0,
                sw.get("Shuffle Bytes Written", 0),
                (info["Finish Time"] - info["Launch Time"]) / 1000.0))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[ev["executionId"]] = {
                "start": ev["time"] / 1000.0, "end": None,
                "plan": ev.get("physicalPlanDescription", "")}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in self.executions:
                self.executions[ev["executionId"]]["end"] = ev["time"] / 1000.0

    def job_tasks(self, jobs) -> list[Task]:
        """Tasks of the given jobs; a stage shared by several jobs
        (skipped on re-use) is billed once, to its first job."""
        billed: set[int] = set()
        out: list[Task] = []
        for job in sorted(jobs, key=lambda j: j.job_id):
            for st in job.stages:
                if st not in billed:
                    billed.add(st)
                    out.extend(self.tasks.get(st, []))
        return out

    def fetch_executions(self, lo: float, hi: float) -> dict[int, dict]:
        return {k: v for k, v in self.executions.items()
                if FETCH_STAGE_WRITE.search(v["plan"]) and v["end"]
                and lo <= v["start"] <= hi}


def task_skew(log: EventLog, jobs) -> float:
    """max/median task time of the heaviest stage among ``jobs``."""
    best, best_run = None, -1.0
    for job in jobs:
        for st in job.stages:
            tasks = log.tasks.get(st, [])
            run = sum(t.run_s for t in tasks)
            if tasks and run > best_run:
                best, best_run = tasks, run
    if not best:
        return 0.0
    med = statistics.median(t.dur_s for t in best)
    return max(t.dur_s for t in best) / med if med > 0 else 0.0


def layer_report(log: EventLog, spans: list[Span], root: Span) -> dict:
    """Per-layer figures for one traced job, the span ``root``."""
    lo, hi = root.start, root.end
    inside = [s for s in spans if lo <= s.start <= hi]
    names = {s.sid: s.name for s in inside}
    jobs = [j for j in log.jobs.values() if lo <= j.submit <= hi]
    fetch = log.fetch_executions(lo, hi)
    fetch_jobs = [j for j in jobs if j.execution in fetch]
    tasks = log.job_tasks(jobs)

    def total(name: str) -> float:
        return sum(s.dur for s in inside if s.name == name)

    selfs = self_times(inside, [(root.sid, v["start"], v["end"])
                                for v in fetch.values()])
    by_layer: dict[str, dict] = {}
    fetch_ids = {j.job_id for j in fetch_jobs}
    for j in jobs:
        if j.job_id in fetch_ids:
            layer = "fetch_stage"
        else:
            sid = int(j.group[3:]) if j.group and j.group.startswith("pb-") else None
            layer = names.get(sid, "untagged")
        row = by_layer.setdefault(layer, {"jobs": 0, "exec_s": 0.0})
        row["jobs"] += 1
        row["exec_s"] += sum(t.run_s for t in log.job_tasks([j]))
    for s in inside:
        row = by_layer.setdefault(s.name, {"jobs": 0, "exec_s": 0.0})
        row["self_s"] = row.get("self_s", 0.0) + selfs[s.sid]
    fetch_wall = sum(v["end"] - v["start"] for v in fetch.values())
    if fetch:
        by_layer.setdefault("fetch_stage", {"jobs": 0, "exec_s": 0.0})[
            "self_s"] = fetch_wall
    return {
        "spans": total,
        "count": lambda name: sum(1 for s in inside if s.name == name),
        "jobs": len(jobs),
        "driver_only_s": (hi - lo) - union_length(
            [(j.submit, j.end) for j in jobs if j.end], lo, hi),
        "exec_run_s": sum(t.run_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_bytes": sum(t.shuffle_bytes for t in tasks),
        "fetch_wall_s": fetch_wall,
        "fetch_exec_s": sum(t.run_s for t in log.job_tasks(fetch_jobs)),
        "fetch_skew": task_skew(log, fetch_jobs),
        "root_self_s": selfs[root.sid],
        "layers": by_layer,
    }
