"""Spans around the package's public calls, and the Spark event-log rollup.

A `Tracer` keeps spans in memory (name, start, end, parent, run id) and
tags every Spark job a span starts with the local property `SPAN_PROP`,
so the event log's jobs, stages and tasks map back to the span that
caused them. Wrappers are installed where callers look functions up: a
module global for free functions (`pipeline.apply_mappings`), a class
attribute for methods (`SinkCatalog.append`). `Tracer.restore()` puts
every original back, so untraced calls run the package unchanged.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, sc, first_id: int = 0):
        """`first_id` keeps span ids unique across the tracers of one
        process, which share one event log."""
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self.next_id = first_id
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # ---- spans -------------------------------------------------------

    def current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        with self._lock:
            sid = self.next_id
            self.next_id += 1
        stack = self._local.__dict__.setdefault("stack", [])
        parent = parent if parent is not None else self.current()
        stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, str(stack[-1]) if stack else None
            )
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    # ---- wrappers ----------------------------------------------------

    def patch(self, owner, attr: str, namer) -> None:
        """Replace `owner.attr` with a wrapper that opens the span
        `namer(*args, **kwargs)` around each call (no span when the namer
        returns None)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            name = namer(*args, **kwargs)
            if name is None:
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def patch_pool(self, module, names: dict[str, str]) -> None:
        """Replace `module.ThreadPoolExecutor` with one whose submitted
        callables run inside a span whose parent is the submitting
        thread's span. The span is named `names[fn.__name__]`, else
        `pool.<fn name>`."""
        tracer = self

        class TracedPool(ThreadPoolExecutor):
            def submit(self, fn, /, *args, **kwargs):
                parent = tracer.current()
                name = names.get(fn.__name__, f"pool.{fn.__name__}")

                def run():
                    with tracer.span(name, parent=parent):
                        return fn(*args, **kwargs)

                return super().submit(run)

        self._patched.append((module, "ThreadPoolExecutor", module.ThreadPoolExecutor))
        module.ThreadPoolExecutor = TracedPool

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ---- analysis ----------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
            )
            out[s.id] = (s.end - s.start) - covered
        return out

    def subtree(self, root: int) -> set[int]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.id)
        out, todo = set(), [root]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(kids.get(sid, []))
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({**s.__dict__, "self_s": selfs[s.id]}) + "\n")

    def tree_summary(self) -> list[tuple[str, int, float, float]]:
        """(indented name, count, total s, self s) per distinct name path."""
        by_id = {s.id: s for s in self.spans}
        selfs = self.self_times()
        agg: dict[tuple[str, ...], list[float]] = {}
        for s in self.spans:
            path, p = [s.name], s.parent
            while p is not None and p in by_id:
                path.append(by_id[p].name)
                p = by_id[p].parent
            key = tuple(reversed(path))
            a = agg.setdefault(key, [0, 0.0, 0.0])
            a[0] += 1
            a[1] += s.end - s.start
            a[2] += selfs[s.id]
        return [
            ("  " * (len(k) - 1) + k[-1], int(v[0]), v[1], v[2])
            for k, v in sorted(agg.items())
        ]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---- Spark event log ---------------------------------------------------


@dataclass
class Task:
    span: int | None
    launch: float  # epoch seconds
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    spill_bytes: int
    shuffle_write_bytes: int
    shuffle_write_records: int
    records_read: int


@dataclass
class EventLog:
    jobs: dict[int | None, int] = field(default_factory=dict)  # span -> jobs
    tasks: list[Task] = field(default_factory=list)
    job_times: list[float] = field(default_factory=list)  # submission, epoch s
    stage_times: list[float] = field(default_factory=list)


def _span_of(props: dict | None) -> int | None:
    v = (props or {}).get(SPAN_PROP)
    return int(v) if v not in (None, "") else None


_WANTED = tuple(
    f'{{"Event":"SparkListener{k}"'
    for k in ("JobStart", "StageSubmitted", "TaskEnd")
)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the one application event log in `log_dir` (stdlib only):
    jobs per span from the job properties, and every finished task's
    metrics tagged with its stage's span. Only the three event kinds
    used are decoded; SQL plan events make up most of the file."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    ev = EventLog()
    stage_span: dict[int, int | None] = {}
    with open(files[0]) as f:
        for line in f:
            if not line.startswith(_WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                sp = _span_of(e.get("Properties"))
                ev.jobs[sp] = ev.jobs.get(sp, 0) + 1
                ev.job_times.append(e["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                stage_span[sid] = _span_of(e.get("Properties"))
                ev.stage_times.append(e["Stage Info"]["Submission Time"] / 1000.0)
            else:
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                ev.tasks.append(
                    Task(
                        span=stage_span.get(e["Stage ID"]),
                        launch=info["Launch Time"] / 1000.0,
                        finish=info["Finish Time"] / 1000.0,
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        spill_bytes=m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                        shuffle_write_records=sw.get("Shuffle Records Written", 0),
                        records_read=(m.get("Input Metrics") or {}).get("Records Read", 0),
                    )
                )
    return ev


@dataclass
class Rollup:
    """Event-log totals over a set of spans."""

    jobs: int
    cpu_s: float
    run_s: float
    spill_bytes: int
    shuffle_write_bytes: int
    shuffle_write_records: int
    records_read: int


def rollup(ev: EventLog, spans: set[int]) -> Rollup:
    ts = [t for t in ev.tasks if t.span in spans]
    return Rollup(
        jobs=sum(n for s, n in ev.jobs.items() if s in spans),
        cpu_s=sum(t.cpu_s for t in ts),
        run_s=sum(t.run_s for t in ts),
        spill_bytes=sum(t.spill_bytes for t in ts),
        shuffle_write_bytes=sum(t.shuffle_write_bytes for t in ts),
        shuffle_write_records=sum(t.shuffle_write_records for t in ts),
        records_read=sum(t.records_read for t in ts),
    )


def idle_seconds(ev: EventLog, start: float, end: float) -> float:
    """Wall time in [start, end] during which no task was running."""
    busy = union_length(
        [(max(t.launch, start), min(t.finish, end)) for t in ev.tasks]
    )
    return (end - start) - busy
