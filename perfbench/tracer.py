"""Spans over the engine's public functions, costed from Spark's status store.

A span is opened by the benchmark around one call into a module's
public function. Opening it sets a fresh Spark job group on the calling
thread (and remembers the group that was set before); closing it
restores that group. Every Spark job the call starts therefore lands in
the span's own group, and after the op the benchmark reads what those
jobs did from the in-process status store
(``statusTracker().getJobIdsForGroup`` and
``statusStore().job`` / ``lastStageAttempt``), which works with the
Spark UI off.

The parent of a span is the span whose group is current on the calling
thread. ``pyspark.InheritableThread`` copies the group into the threads
it starts, so jobs of ``concurrency.run_in_background`` and spans
opened on such a thread belong to the span that spawned the thread.

Spans are kept in memory; ``write_jsonl`` writes them when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# local properties SparkContext.setJobGroup sets; restored on span exit
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

# per-stage counters summed over a span's stages: status-store getter -> counter
_STAGE_COUNTERS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "outputBytes": "output_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "inputRecords": "input_records",
}


@dataclass
class Span:
    name: str
    group: str
    parent: Span | None
    thread: str
    start: float
    end: float | None = None
    children: list[Span] = field(default_factory=list)
    # filled by Tracer.resolve: job ids, their [submit, complete] intervals
    # in seconds since the epoch, and the summed stage counters
    jobs: list[int] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    counters: dict[str, int] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start

    def self_time(self) -> float:
        """Duration minus the part of this span's interval its children cover."""
        end = self.end if self.end is not None else time.perf_counter()
        covered = union_length(
            (max(c.start, self.start), min(c.end if c.end is not None else end, end))
            for c in self.children
        )
        return self.duration - covered

    def subtree(self) -> Iterator[Span]:
        yield self
        for c in self.children:
            yield from c.subtree()

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "group": self.group,
            "parent": self.parent.group if self.parent else None,
            "thread": self.thread,
            "start": self.start,
            "duration_s": self.duration,
            "self_s": self.self_time(),
            "jobs": self.jobs,
            "counters": self.counters,
        }


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc, prefix: str = "perfbench") -> None:
        self._sc = sc
        self._prefix = prefix
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._by_group: dict[str, Span] = {}
        self.spans: list[Span] = []
        # when False, wrapped functions run as if unwrapped
        self.enabled = True

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        sc = self._sc
        saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
        parent = self._by_group.get(saved["spark.jobGroup.id"])
        s = Span(
            name=name,
            group=f"{self._prefix}-{next(self._ids)}",
            parent=parent,
            thread=threading.current_thread().name,
            start=time.perf_counter(),
        )
        with self._lock:
            self._by_group[s.group] = s
            self.spans.append(s)
            if parent is not None:
                parent.children.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` with every call run inside ``span(name)``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def resolve(self, spans: Iterable[Span]) -> None:
        """Read each span's jobs and stage counters from the status store.

        Call after the spans' jobs have finished; the status store keeps
        only the most recent jobs and stages, so resolve after each op."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()  # noqa: SLF001 — no public Python API
        for s in spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            s.job_intervals, s.counters = [], dict.fromkeys(_STAGE_COUNTERS.values(), 0)
            stages: set[int] = set()
            for jid in s.jobs:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.job_intervals.append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                info = tracker.getJobInfo(jid)
                stages.update(info.stageIds if info else [])
            for sid in sorted(stages):
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                for getter, key in _STAGE_COUNTERS.items():
                    s.counters[key] += int(getattr(st, getter)())

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_dict()) + "\n")


# ------------------------------------------------------------ installation


def install(tracer: Tracer, targets: dict[str, str]) -> Callable[[], None]:
    """Replace each ``"module:attr"`` or ``"module:Class.method"`` target
    with a traced wrapper named by its value, then rebind every
    ``from module import attr`` copy held in the globals of the
    already-imported ``mercurygate_spark`` modules, so the order of
    imports does not matter. Returns a function that undoes all of it."""
    wrappers: dict[int, tuple[Callable, Callable]] = {}
    undo: list[tuple[object, str, Callable]] = []
    for target, span_name in targets.items():
        mod_name, attr = target.split(":")
        owner = importlib.import_module(mod_name)
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        fn = getattr(owner, leaf)
        wrapped = tracer.wrap(span_name, fn)
        setattr(owner, leaf, wrapped)
        undo.append((owner, leaf, fn))
        wrappers[id(fn)] = (fn, wrapped)
    for name, mod in list(sys.modules.items()):
        if not name.startswith("mercurygate_spark") or mod is None:
            continue
        for k, v in list(vars(mod).items()):
            hit = wrappers.get(id(v))
            if hit is not None and v is hit[0]:
                setattr(mod, k, hit[1])
                undo.append((mod, k, v))

    def uninstall() -> None:
        for owner, k, original in reversed(undo):
            setattr(owner, k, original)

    return uninstall
