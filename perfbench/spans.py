"""Traced runs: spans around calls into the engine's layers, and Spark's own
job/stage/task accounting read back from an uncompressed event log.

A span records name, layer, start, end and its parent. Entering a span sets
the calling thread's Spark job group to the span's id, so every job a span
submits is attributed to the innermost open span.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``sc`` is a SparkContext (or None in unit tests)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: add to a perf_counter() reading to get epoch seconds
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), name, layer,
                 parent.id if parent else None, time.perf_counter(),
                 attrs=attrs)
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def wrap(self, layer: str, name: str, fn, attrs=None):
        """``fn`` wrapped in a span; ``attrs(*args)`` names span attributes."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name, **(attrs(*args) if attrs else {})):
                return fn(*args, **kwargs)

        return traced


# ------------------------------------------------------------- patching
PKG = "cartodb_importer_spark"

#: (module that defines the name, attribute, layer, span name). A function
#: is patched in every package module that holds it, because several
#: callers bind names at import time (readers/csv.py binds
#: infer_column_types, importer.py binds georeference_points).
FUNCTIONS = [
    ("readers.router", "route", "readers", "route"),
    ("readers.csv", "read_csv", "readers", "read_csv"),
    ("readers.excel", "read_excel", "readers", "read_excel"),
    ("readers.geojson", "read_geojson", "readers", "read_geojson"),
    ("readers.kml", "read_kml", "readers", "read_kml"),
    ("readers.gpx", "read_gpx", "readers", "read_gpx"),
    ("readers.shp", "read_shp", "readers", "read_shp"),
    ("infer", "infer_column_types", "infer", "infer_column_types"),
    ("infer", "apply_inferred_types", "infer", "apply_inferred_types"),
    ("infer", "sniff_delimiter", "infer", "sniff"),
    ("infer", "sniff_quote", "infer", "sniff"),
    ("infer", "sniff_encoding", "infer", "sniff"),
    ("georef", "georeference_points", "georef", "georeference_points"),
    ("georef", "rebuild_the_geom", "georef", "rebuild_the_geom"),
    ("sinks.files", "export_csv_zip", "sinks.files", "csv"),
    ("sinks.files", "export_kmz", "sinks.files", "kml"),
    ("sinks.files", "export_shp_zip", "sinks.files", "shp"),
]
#: (module, class, method, layer, span name, span attributes)
METHODS = [
    ("importer", "Importer", "run", "importer", "Importer.run",
     lambda imp: {"path": imp.source}),
    ("importer", "Exporter", "run", "importer", "Exporter.run", None),
    ("sinks.catalog", "Catalog", "publish", "sinks.catalog", "publish", None),
    ("sinks.catalog", "LocalCatalog", "read", "sinks.catalog", "read", None),
]


class Patches:
    """Installs tracing wrappers into the engine's modules; ``undo``
    restores every original binding."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def _set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> "Patches":
        import importlib

        for mod, attr, layer, name in FUNCTIONS:
            original = getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
            wrapped = self.tracer.wrap(layer, name, original)
            holders = [
                m for k, m in list(sys.modules.items())
                if (k == PKG or k.startswith(PKG + ".")) and m is not None
                and getattr(m, attr, None) is original
            ]
            for m in holders:
                self._set(m, attr, wrapped)
        for mod, cls_name, meth, layer, name, attrs in METHODS:
            cls = getattr(importlib.import_module(f"{PKG}.{mod}"), cls_name)
            self._set(cls, meth, self.tracer.wrap(
                layer, name, cls.__dict__[meth], attrs))
        return self

    def undo(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)


# ------------------------------------------------------- span arithmetic
def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its children
    cover (children on parallel threads are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length([
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, []) if c.end > s.start and c.start < s.end
        ])
        out[s.id] = s.duration - covered
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = {root}, [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.add(k)
            todo.append(k)
    return out


# ---------------------------------------------------------- event log
@dataclass
class JobStats:
    group: str | None
    jobs: int = 1
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0

    def add(self, other: "JobStats") -> None:
        for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                  "input_bytes", "output_bytes", "shuffle_write_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    jobs: dict[int, JobStats]
    #: (launch, finish) epoch-ms of every finished task
    task_intervals: list[tuple[int, int]]


def parse_event_log(lines) -> EventLog:
    """Per-job stages that ran, tasks, executor run/CPU/GC time and bytes,
    from Spark's JSON-lines event log."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    intervals: list[tuple[int, int]] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = JobStats(props.get("spark.jobGroup.id"))
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            if info.get("Finish Time"):
                intervals.append((info["Launch Time"], info["Finish Time"]))
            if jid is None:
                continue
            j = jobs[jid]
            j.tasks += 1
            j.run_ms += m.get("Executor Run Time", 0)
            j.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            j.gc_ms += m.get("JVM GC Time", 0)
            j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j.output_bytes += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return EventLog(jobs, intervals)


def read_event_logs(directory: str) -> EventLog:
    """Every event file under ``directory``: Spark 4 writes rolling logs,
    a directory per application holding events_<n>_<app> files."""
    def order(path: str):
        parts = os.path.basename(path).split("_")
        return os.path.dirname(path), int(parts[1])

    lines: list[str] = []
    paths = [p for p in glob.glob(os.path.join(directory, "**"),
                                  recursive=True)
             if os.path.isfile(p)
             and os.path.basename(p).startswith("events_")]
    for path in sorted(paths, key=order):
        with open(path) as f:
            lines.extend(ln for ln in f if ln.strip())
    return parse_event_log(lines)


def jobs_by_span(log: EventLog) -> dict[int, list[JobStats]]:
    out: dict[int, list[JobStats]] = {}
    for j in log.jobs.values():
        if j.group and j.group.startswith(GROUP_PREFIX):
            out.setdefault(int(j.group[len(GROUP_PREFIX):]), []).append(j)
    return out


def busy_ms(intervals: list[tuple[int, int]], lo_ms: float, hi_ms: float
            ) -> float:
    """Time within [lo, hi] (epoch ms) during which any task ran."""
    return union_length([
        (max(a, lo_ms), min(b, hi_ms)) for a, b in intervals
        if b > lo_ms and a < hi_ms
    ])
