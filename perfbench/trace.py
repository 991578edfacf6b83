"""Tracing for the per-layer run: spans recorded in memory around calls
into each layer's public functions, a counting wrapper for the txlog's
``LOG_STORE`` seam, and an offline reader of Spark's JSON event log that
attributes every job to the innermost span open when it was submitted.

The benchmark loop is closed (one request in flight), so a job's
submission time names exactly one innermost span.  Times are wall-clock
epoch seconds on both sides: the event log stamps jobs in epoch
milliseconds.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None
    depth: int


class Tracer:
    """Spans kept in memory; :meth:`dump` writes them at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self.op, len(self._stack))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned twin; callers that look the
        function up at call time (``from .x import f`` inside a function,
        or a module-global reference) go through the span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its direct children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.end - s.start - covered)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

#: uncompressed, single-file event log (Spark 4.1 defaults to rolling zstd)
def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    stages: list[int]
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0  # read + written
    spill_bytes: int = 0  # memory + disk
    span: int | None = None  # innermost span index


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task totals from the (single) finished log in
    ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                stages = list(ev.get("Stage IDs") or [])
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, stages)
                jobs[j.id] = j
                for s in stages:
                    stage_job[s] = j.id
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics") or {}
                if j is None:
                    continue
                j.tasks += 1
                j.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                j.shuffle_bytes += (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute(jobs: list[Job], spans: list[Span]) -> None:
    """Set each job's ``span`` to the deepest span whose window contains
    its submission; jobs outside every span keep ``None``."""
    for j in jobs:
        best = None
        for i, s in enumerate(spans):
            if s.start <= j.submit <= s.end and (
                best is None or s.depth > spans[best].depth
            ):
                best = i
        j.span = best


def subtree(spans: list[Span], root: int) -> set[int]:
    """``root`` and every span below it."""
    out = {root}
    for i in range(root + 1, len(spans)):
        if spans[i].parent in out:
            out.add(i)
    return out


# ---------------------------------------------------------------------------
# txlog LOG_STORE counting wrapper
# ---------------------------------------------------------------------------

_DURABLE = ("put_if_absent", "write_atomic", "finalize_file", "finalize_dir")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


class CountingLogStore:
    """Delegates to the wrapped store and counts calls, durable writes
    (the four mutating publish calls) and the bytes they make durable.
    ``publish_batch`` stages tables from a thread pool, so the counters
    take a lock."""

    def __init__(self, inner) -> None:
        self._inner = inner
        self._lock = threading.Lock()
        self.calls = 0
        self.durable_writes = 0
        self.bytes = 0

    def snapshot(self) -> tuple[int, int, int]:
        with self._lock:
            return self.calls, self.durable_writes, self.bytes

    def __getattr__(self, name: str):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def counted(*a, **kw):
            n = 0
            if name in ("put_if_absent", "write_atomic"):
                n = len(a[1] if len(a) > 1 else kw["data"])
            elif name == "finalize_file":
                n = os.path.getsize(a[0])
            elif name == "finalize_dir":
                n = dir_bytes(a[0])
            with self._lock:
                self.calls += 1
                self.durable_writes += int(name in _DURABLE)
                self.bytes += n
            return attr(*a, **kw)

        return counted

    def __reduce__(self):
        # executor-side closures carry the plain store: counts are driver-side
        return (_identity, (self._inner,))


def _identity(x):
    return x
