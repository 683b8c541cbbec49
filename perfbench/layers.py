"""Per-layer metrics of one traced pass, from its spans and the event log.

Import-side metrics are per imported file (mean over the pass) unless the
name says otherwise; export-side ones are per export; ``queries.*`` totals
are sums over one pass of the 17 queries. A layer that does not run in a
workload reports 0.
"""

from __future__ import annotations

import os
import statistics

import checks
import gen
import spans as tr
import workloads

FORMATS = list(gen.UPLOAD_ROWS)


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    out = ["readers.self_s", "readers.jobs", "readers.stages",
           "readers.executor_cpu_ms"]
    out += [f"readers.{f}.s" for f in FORMATS]
    out += ["infer.s", "infer.sniff_s", "infer.jobs", "infer.input_bytes",
            "infer.executor_cpu_ms",
            "importer.self_s", "importer.jobs_per_file",
            "importer.stages_per_file", "importer.input_bytes_per_file_byte",
            "importer.publish_retries",
            "georef.null_geom_ratio",
            "sinks.catalog.publish_s", "sinks.catalog.publish_jobs",
            "sinks.catalog.publish_executor_cpu_ms",
            "sinks.catalog.output_bytes_per_input_byte",
            "sinks.catalog.read_s",
            "sinks.files.export_s", "sinks.files.jobs"]
    out += [f"sinks.files.{k}.s" for k in workloads.EXPORT_KINDS]
    out += ["queries.build_s", "queries.action_s", "queries.jobs",
            "queries.stages", "queries.tasks", "queries.executor_run_ms",
            "queries.executor_cpu_ms", "queries.gc_ms",
            "queries.shuffle_write_bytes", "queries.driver_s"]
    for q in workloads.HEADLINE:
        out += [f"queries.{q}.s", f"queries.{q}.jobs", f"queries.{q}.stages"]
    out += ["caching.released_frames", "caching.release_s",
            "session.slot_busy_ratio", "failed_op_ratio",
            "memory.driver_peak_rss_mb", "memory.jvm_peak_rss_mb",
            "trace.overhead_s"]
    return out


UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "bytes": "bytes",
         "ratio": "ratio", "_mb": "MB", "per_file_byte": "bytes/byte",
         "per_input_byte": "bytes/byte"}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


class Pass:
    """Indexes one traced pass: spans, their jobs, and self times."""

    def __init__(self, spans: list[tr.Span], log: tr.EventLog):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}
        self.self_t = tr.self_times(spans)
        self.jobs = tr.jobs_by_span(log)
        self.log = log

    def of(self, layer: str, name: str | None = None) -> list[tr.Span]:
        return [s for s in self.spans if s.layer == layer
                and (name is None or s.name == name)]

    def own_jobs(self, spans) -> tr.JobStats:
        """Jobs whose innermost span is one of ``spans``."""
        total = tr.JobStats(None, jobs=0)
        for s in spans:
            for j in self.jobs.get(s.id, []):
                total.add(j)
        return total

    def tree_jobs(self, spans) -> tr.JobStats:
        """Jobs submitted anywhere under ``spans``."""
        ids: set[int] = set()
        for s in spans:
            ids |= tr.descendants(self.spans, s.id)
        return self.own_jobs([self.by_id[i] for i in ids])


def import_metrics(p: Pass, results: list, by_path: dict[str, dict]
                   ) -> dict[str, float]:
    runs = p.of("importer", "Importer.run")
    n = len(runs)
    if not n:
        return {}
    src_bytes = sum(by_path[s.attrs["path"]]["bytes"] for s in runs)
    readers = p.of("readers")
    rj = p.own_jobs(readers)
    out = {
        "readers.self_s": sum(p.self_t[s.id] for s in readers) / n,
        "readers.jobs": rj.jobs / n,
        "readers.stages": rj.stages / n,
        "readers.executor_cpu_ms": rj.cpu_ms / n,
    }
    for fmt in FORMATS:
        out[f"readers.{fmt}.s"] = _mean(
            r.duration for r in p.of("readers", "route")
            if by_path[p.by_id[r.parent].attrs["path"]]["format"] == fmt)
    infer = p.of("infer")
    ij = p.own_jobs(infer)
    out.update({
        "infer.s": sum(s.duration for s in infer if s.parent is None
                       or p.by_id[s.parent].layer != "infer") / n,
        "infer.sniff_s": sum(s.duration for s in p.of("infer", "sniff")) / n,
        "infer.jobs": ij.jobs / n,
        "infer.input_bytes": ij.input_bytes / n,
        "infer.executor_cpu_ms": ij.cpu_ms / n,
    })
    tj = p.tree_jobs(runs)
    out.update({
        "importer.self_s": sum(p.self_t[s.id] for s in runs) / n,
        "importer.jobs_per_file": tj.jobs / n,
        "importer.stages_per_file": tj.stages / n,
        "importer.input_bytes_per_file_byte": tj.input_bytes / src_bytes,
        "importer.publish_retries": sum(
            "publish collision" in line for r in results for line in r.log),
    })
    geo = [checks.null_geometry(r.log) for r in results]
    out["georef.null_geom_ratio"] = (
        sum(g[0] for g in geo) / sum(g[1] for g in geo))
    pub = p.of("sinks.catalog", "publish")
    pj = p.tree_jobs(pub)
    out.update({
        "sinks.catalog.publish_s": sum(s.duration for s in pub) / n,
        "sinks.catalog.publish_jobs": pj.jobs / n,
        "sinks.catalog.publish_executor_cpu_ms": pj.cpu_ms / n,
        "sinks.catalog.output_bytes_per_input_byte": pj.output_bytes
        / src_bytes,
    })
    return out


def export_metrics(p: Pass) -> dict[str, float]:
    exports = p.of("sinks.files")
    if not exports:
        return {}
    out = {
        "sinks.catalog.read_s": _mean(
            s.duration for s in p.of("sinks.catalog", "read")),
        "sinks.files.export_s": _mean(s.duration for s in exports),
        "sinks.files.jobs": p.tree_jobs(exports).jobs / len(exports),
    }
    for k in workloads.EXPORT_KINDS:
        out[f"sinks.files.{k}.s"] = _mean(
            s.duration for s in exports if s.name == k)
    return out


def query_metrics(p: Pass, epoch_offset: float) -> dict[str, float]:
    ops = p.of("op", "query")
    if not ops:
        return {}
    qspans = p.of("queries")
    qj = p.tree_jobs(ops)
    busy = sum(
        tr.busy_ms(p.log.task_intervals, (s.start + epoch_offset) * 1e3,
                   (s.end + epoch_offset) * 1e3) / 1e3 for s in ops)
    out = {
        "queries.build_s": sum(s.duration for s in qspans
                               if s.name.endswith(".build")),
        "queries.action_s": sum(s.duration for s in qspans
                                if s.name.endswith(".action")),
        "queries.jobs": qj.jobs,
        "queries.stages": qj.stages,
        "queries.tasks": qj.tasks,
        "queries.executor_run_ms": qj.run_ms,
        "queries.executor_cpu_ms": qj.cpu_ms,
        "queries.gc_ms": qj.gc_ms,
        "queries.shuffle_write_bytes": qj.shuffle_write_bytes,
        "queries.driver_s": sum(s.duration for s in ops) - busy,
    }
    for s in ops:
        q = s.attrs["query"]
        j = p.tree_jobs([s])
        out[f"queries.{q}.s"] = s.duration
        out[f"queries.{q}.jobs"] = j.jobs
        out[f"queries.{q}.stages"] = j.stages
    rel = p.of("caching", "release")
    out["caching.released_frames"] = sum(s.attrs.get("released", 0)
                                         for s in rel)
    out["caching.release_s"] = sum(s.duration for s in rel)
    return out


def per_layer(p: Pass, wl, res, *, epoch_offset: float, wall: float,
              failed_ratio: float, overhead_s: float, driver_rss_mb: float,
              jvm_rss_mb: float) -> dict[str, float]:
    by_path = {e["path"]: e for e in getattr(wl, "files", [])}
    out = dict.fromkeys(names(), 0.0)
    out.update(import_metrics(p, res.imports, by_path))
    out.update(export_metrics(p))
    out.update(query_metrics(p, epoch_offset))
    run_ms = sum(j.run_ms for js in p.jobs.values() for j in js)
    out.update({
        "session.slot_busy_ratio": run_ms / (wall * 1e3 * int(os.environ["SPARK_GRAFT_CPUS"])),
        "failed_op_ratio": failed_ratio,
        "memory.driver_peak_rss_mb": driver_rss_mb,
        "memory.jvm_peak_rss_mb": jvm_rss_mb,
        "trace.overhead_s": overhead_s,
    })
    return out
