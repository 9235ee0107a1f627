"""Spans around calls into the engine's layers, and Spark event-log
attribution of task metrics to those spans.

A span records its name, start, end and parent, and while it is open
every Spark job the driver thread submits carries the span's id as its
job group. After the session stops, :func:`parse_eventlog` reads the
event log Spark wrote into the run directory and :class:`Attribution`
sums task metrics (run time, GC, shuffle, spill, Python worker bytes)
per span. Spans stay in memory until the run ends and are then saved
with its result record.

The engine itself carries no tracing code: :func:`instrument` rebinds
module-level public names (``prepare_graph``, ``materialize`` and
``bsp_loop_confs`` as each graph module bound them, and the
``CheckpointManager`` methods) to wrappers that open a span around the
original, and the returned callable puts the originals back.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder that tags Spark jobs with the open span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"pb{len(self.spans)}", name, parent and parent.sid, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(JOB_GROUP, sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, parent.sid if parent else None)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def inner(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    return inner


def _wrap_cm(tracer: Tracer, name: str, cm):
    @functools.wraps(cm)
    @contextmanager
    def inner(*a, **kw):
        with tracer.span(name), cm(*a, **kw):
            yield

    return inner


def instrument(tracer: Tracer):
    """Open spans around the engine's layer entry points; returns a
    callable that restores the original bindings."""
    from pregel_spark import tableio

    # the package re-exports a function named ``pagerank``, which hides
    # the submodule of that name from attribute access
    engine, pagerank, components, lpa = (
        importlib.import_module(f"pregel_spark.graph.{m}") for m in ("engine", "pagerank", "components", "lpa")
    )
    saved = []

    def rebind(owner, attr, new):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    rebind(pagerank, "prepare_graph", _wrap(tracer, "pagerank.prepare", pagerank.prepare_graph))
    for mod, short in ((engine, "engine"), (pagerank, "pagerank"), (components, "cc"), (lpa, "lpa")):
        rebind(mod, "materialize", _wrap(tracer, "materialize", mod.materialize))
        rebind(mod, "bsp_loop_confs", _wrap_cm(tracer, f"{short}.loop", mod.bsp_loop_confs))
    cm = tableio.CheckpointManager
    for meth, name in (
        ("save", "tableio.save"),
        ("load", "tableio.load"),
        ("append_metrics", "tableio.metrics_append"),
        ("append_partition_metrics", "tableio.metrics_append"),
    ):
        rebind(cm, meth, _wrap(tracer, name, getattr(cm, meth)))

    def restore():
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)

    return restore


# ------------------------------------------------------------ event log


@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    py_sent: int
    py_recv: int
    failed: bool


@dataclass
class EventLog:
    job_group: dict[int, str | None]  # job id -> span id
    stage_job: dict[int, int]  # stage id -> first job that lists it
    tasks: list[Task]


def _acc(info: dict, needle: str) -> int:
    return sum(
        int(a.get("Update") or 0)
        for a in info.get("Accumulables", ())
        if needle in a.get("Name", "")
    )


def parse_eventlog(log_dir: str) -> EventLog:
    """Jobs, stage ownership and per-task metrics from an uncompressed
    JSON-lines event log directory."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                head = line[:60]
                if '"SparkListenerTaskEnd"' in head:
                    ev = json.loads(line)
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics", {})
                    tasks.append(
                        Task(
                            stage=ev["Stage ID"],
                            run_ms=m.get("Executor Run Time", 0),
                            gc_ms=m.get("JVM GC Time", 0),
                            shuffle_read=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                            shuffle_write=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                            spill=m.get("Disk Bytes Spilled", 0),
                            py_sent=_acc(info, "data sent to Python workers"),
                            py_recv=_acc(info, "data returned from Python workers"),
                            failed=bool(info.get("Failed")) or ev["Task End Reason"].get("Reason") != "Success",
                        )
                    )
                elif '"SparkListenerJobStart"' in head:
                    ev = json.loads(line)
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get(JOB_GROUP)
                    for st in ev.get("Stage IDs", ()):
                        stage_job.setdefault(st, jid)
    return EventLog(job_group, stage_job, tasks)


class Attribution:
    """Jobs and task metrics grouped by span, with subtree queries."""

    def __init__(self, spans: list[Span], log: EventLog):
        self.spans = {s.sid: s for s in spans}
        self.children: dict[str | None, list[str]] = {}
        for s in spans:
            self.children.setdefault(s.parent, []).append(s.sid)
        self.jobs: dict[str, list[int]] = {}
        for jid, sid in log.job_group.items():
            self.jobs.setdefault(sid, []).append(jid)
        job_tasks: dict[int, list[Task]] = {}
        for t in log.tasks:
            jid = log.stage_job.get(t.stage)
            if jid is not None:
                job_tasks.setdefault(jid, []).append(t)
        self.job_tasks = job_tasks

    def subtree(self, sid: str, exclude: tuple[str, ...] = ()) -> list[str]:
        """``sid`` and its descendants, pruning spans named in exclude."""
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            if self.spans[cur].name in exclude:
                continue
            out.append(cur)
            todo.extend(self.children.get(cur, ()))
        return out

    def jobs_of(self, sids) -> list[int]:
        return [j for s in sids for j in self.jobs.get(s, ())]

    def tasks_of(self, sids) -> list[Task]:
        return [t for j in self.jobs_of(sids) for t in self.job_tasks.get(j, ())]

    def find(self, root: str, name: str) -> list[Span]:
        return [self.spans[s] for s in self.subtree(root) if self.spans[s].name == name]
