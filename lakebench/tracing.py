"""Spans, samples and Spark/host probes.

Spans are recorded from the benchmark's own files around calls into the
engine's modules, in memory, and reduced when the run ends. With tracing
off, ``span`` is a no-op and no Spark listener or status polling runs;
samples (the generator's lateness) are kept either way.
"""

from __future__ import annotations

import json
import os
import resource
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("sources", "streaming", "delta", "dims", "semantic", "analytics")


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile; 0.0 for an empty sample."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tracer:
    """Thread-safe span and sample store for one run."""

    def __init__(self, on: bool):
        self.on = on
        self._lock = threading.Lock()
        self._local = threading.local()
        # (id, layer, name, t0, t1, parent id)
        self.spans: list[tuple[int, str, str, float, float, int | None]] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        # spans that start before this perf_counter() reading (set-up and
        # warm-up) are left out of every reduction
        self.since = 0.0

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.on:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append((sid, layer, name, 0.0, 0.0, stack[-1] if stack else None))
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans[sid] = (sid, layer, name, t0, t1, self.spans[sid][5])

    def sample(self, key: str, value: float) -> None:
        with self._lock:
            self.samples[key].append(value)

    def durations_ms(self, layer: str, name: str) -> list[float]:
        return [
            (t1 - t0) * 1000.0
            for _, ly, nm, t0, t1, _ in self.spans
            if ly == layer and nm == name and t1 > 0 and t0 >= self.since
        ]

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time minus the part of it that child spans
        cover (children of one span can overlap only on one thread, so
        their union is taken after sorting)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _, _, _, t0, t1, parent in self.spans:
            if parent is not None and t1 > 0:
                children[parent].append((t0, t1))
        out = {layer: 0.0 for layer in LAYERS}
        for sid, layer, _, t0, t1, _ in self.spans:
            if t1 <= 0 or t0 < self.since:
                continue
            covered, end = 0.0, t0
            for c0, c1 in sorted(children.get(sid, ())):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - covered
        return out


class TracedTable:
    """Forwards every attribute to a ``DeltaishTable`` and records a
    ``delta`` span around its read, write and maintenance calls, so the
    spans also cover calls the engine's own helpers make through it
    (``dims.scd2.scd2_apply_delta`` reads, merges and appends)."""

    _TRACED = {"read": "read", "read_pruned": "read", "append": "append",
               "merge": "merge", "optimize": "optimize"}

    def __init__(self, table, tracer: Tracer):
        self._table = table
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._table, name)
        span_name = self._TRACED.get(name)
        if span_name is None or not callable(attr):
            return attr
        tracer = self._tracer

        def call(*args, **kwargs):
            with tracer.span("delta", span_name):
                return attr(*args, **kwargs)

        return call


def make_listener():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.reports: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.reports.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> list[dict]:
            with self._lock:
                return list(self.reports)

    return Progress()


class SparkProbe:
    """Job/task counts from the status tracker and JVM GC time, as
    deltas over the measured window. Job ids are global and sequential,
    so the job count is the growth of the highest id seen."""

    def __init__(self, spark):
        self.spark = spark
        self.tracker = spark.sparkContext.statusTracker()
        self.groups: set[str | None] = {None}
        self.done_jobs: set[int] = set()
        self.tasks = 0
        self.max_job = -1
        self.jobs0 = 0
        self.gc0 = 0.0

    def _gc_s(self) -> float:
        mx = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()) / 1000.0

    def start(self) -> None:
        self.poll(count_tasks=False)
        self.jobs0 = self.max_job
        self.gc0 = self._gc_s()

    def add_group(self, group: str) -> None:
        self.groups.add(group)

    def poll(self, count_tasks: bool = True) -> None:
        for g in list(self.groups):
            for jid in self.tracker.getJobIdsForGroup(g):
                self.max_job = max(self.max_job, jid)
                if jid in self.done_jobs:
                    continue
                info = self.tracker.getJobInfo(jid)
                if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                    continue
                self.done_jobs.add(jid)
                if not count_tasks:
                    continue
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        self.tasks += st.numCompletedTasks

    def finish(self) -> dict[str, float]:
        self.poll()
        return {
            "spark.jobs": float(self.max_job - self.jobs0),
            "spark.tasks": float(self.tasks),
            "spark.gc_s": self._gc_s() - self.gc0,
        }


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this host (the 8th
    field of /proc/stat's cpu line) between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """High-water RSS of this Python process and of the driver JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return py, jvm


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total
