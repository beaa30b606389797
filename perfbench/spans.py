"""Spans around the engine's public calls, plus process counters.

A :class:`Tracer` patches a public function or method with a wrapper that
records a span (name, start, end, parent) in memory, and restores the
original on :meth:`Tracer.restore`. With ``jobs=True`` each span also tags
the Spark jobs it starts with a job group of its own and records the DAG
scheduler's job-id delta and the process tree's CPU time across it; without
it a span costs two clock reads.

Spans nest through one stack. The engine calls a ``foreachBatch`` body on
a py4j callback thread while the caller's thread blocks in
``awaitTermination``, so at most one thread is inside a span at a time.
"""

from __future__ import annotations

import functools
import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_TRACER_IDS = itertools.count()


def _stat(pid: str) -> tuple[int, int, int] | None:
    """(ppid, start time, utime+stime in ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(rest[1]), int(rest[19]), int(rest[11]) + int(rest[12])


class CpuMeter:
    """CPU seconds (user+system) of this process and its descendants.

    Each read walks ``/proc`` and remembers every descendant's last
    count, so a process that exits keeps what it had used at the last
    read: pyspark's worker daemon ignores SIGCHLD, so its workers' time
    never reaches a parent's ``cutime``. CPU a process spends after the
    last read before it exits is missed."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self._last: dict[tuple[int, int], int] = {}

    def read(self) -> float:
        stats = {int(p): s for p in os.listdir("/proc") if p.isdigit() and (s := _stat(p))}
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        todo = [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                _, start, ticks = stats[pid]
                self._last[(pid, start)] = ticks
                todo.extend(kids.get(pid, ()))
        return sum(self._last.values()) / _TICK


def proc_cpu_s(pid: int) -> float:
    """CPU seconds of one process (its own threads only)."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class JvmProbe:
    """Counters of the driver JVM, read over py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._mx = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.ProcessHandle.current().pid())

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mx.getGarbageCollectorMXBeans()) / 1e3

    def jobs_in_group(self, group: str) -> list[int]:
        """Job ids tagged with ``group``, after the listener bus has
        delivered every pending event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0  # DAG job-id delta across the span, children included
    cpu_s: float = 0.0  # process-tree CPU across the span, children included
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, jobs: bool = False):
        self.jobs = jobs
        # job groups are per tracer: two traced runs in one process must not share one
        self._group_prefix = f"perfbench-{os.getpid()}-{next(_TRACER_IDS)}"
        self.spans: list[Span] = []
        self.probe: JvmProbe | None = None
        self.cpu = CpuMeter()
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def bind(self, probe: JvmProbe) -> None:
        """Start tagging jobs once a Spark session exists."""
        self.probe = probe

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None,
                 time.perf_counter())
        self.spans.append(s)
        probe = self.probe if self.jobs else None
        saved = None
        if probe is not None:
            sc = probe.sc
            saved = [sc.getLocalProperty(p) for p in _JOB_PROPS]
            s.group = f"{self._group_prefix}-{s.id}"
            sc.setJobGroup(s.group, name)
            job0, cpu0 = probe.next_job_id(), self.cpu.read()
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            if probe is not None:
                s.jobs = probe.next_job_id() - job0
                s.cpu_s = self.cpu.read() - cpu0
                for p, v in zip(_JOB_PROPS, saved):
                    probe.sc.setLocalProperty(p, v)
            s.end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, wrap_result=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``wrap_result``
        post-processes the return value (used to span a returned
        callback)."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with self.span(name):
                out = fn(*a, **k)
            return wrap_result(out) if wrap_result else out

        new = type(raw)(wrapper) if isinstance(raw, (classmethod, staticmethod)) else wrapper
        setattr(owner, attr, new)
        self._patches.append((owner, attr, raw))

    def spanned(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        return wrapper

    def restore(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    # ---- analysis ----

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_s(self, s: Span) -> float:
        """Span duration minus the part its direct children cover."""
        return s.dur - sum(c.dur for c in self.children(s))

    def within(self, outer: list[Span], name: str) -> list[Span]:
        """Spans called ``name`` that start inside any of ``outer``."""
        return [
            s for s in self.spans
            if s.name == name and any(o.start <= s.start <= o.end for o in outer)
        ]

    def group_jobs(self, s: Span) -> int:
        """Jobs tagged with the job groups of ``s`` and its descendants."""
        todo, n = [s], 0
        while todo:
            x = todo.pop()
            n += len(self.probe.jobs_in_group(x.group)) if x.group else 0
            todo.extend(self.children(x))
        return n

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
