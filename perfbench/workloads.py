"""The workloads. Each is a closed loop driven by one client thread: a pass
is a fixed list of operations, and a run times whole passes.

* ``upload_roundtrip`` — one file of each upload format; an operation is
  one file's round trip: its import into a fresh warehouse, then the export
  of the published table (CSV-zip, KMZ and SHP-zip rotate over the
  formats).
* ``query_sweep`` — the fixed 17-query headline list; an operation is one
  query built and driven to a ``noop`` write. Tracked caches are released
  between queries.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field

import checks
import gen

#: the headline list, in its fixed order
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "agg_count_distinct",
    "agg_rollup",
    "window_topk_per_group",
    "join_asof",
    "setop_except_all",
    "llm_dedup_exact",
    "llm_near_dedup",
    "llm_cosine_topk",
    "llm_text_stats",
    "stream_session_windows",
    "stream_resample_ffill",
    "q8_market_share",
    "reshape_pivot",
    "udf_apply_in_arrow",
]

#: scale factor of the query_sweep tables (lineitem 60k rows): one pass of
#: the 17 queries at sf0.1 takes about 26 s warm on a 4-core host, which
#: the run budget cannot hold
SWEEP_SF = 0.01

EXPORT_KINDS = ("csv", "kml", "shp")
#: each upload format's export kind, fixed so the export mix does not
#: change with the seeded upload order
EXPORT_OF = {fmt: EXPORT_KINDS[i % len(EXPORT_KINDS)]
             for i, fmt in enumerate(gen.UPLOAD_ROWS)}


@dataclass
class PassResult:
    wall: float
    #: latency (seconds) of each operation of this pass that succeeded
    ops: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    #: ImportResults of the pass, for the traced per-layer metrics
    imports: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        import sys

        self.failed += 1
        print(f"perfbench: failed: {what}", file=sys.stderr)


class Workload:
    name = ""
    #: untimed passes before the window (after ``once``)
    WARM_PASSES = 1

    def __init__(self, work: str, seed: int, tracer=None):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.scratch = os.path.join(work, "scratch")
        os.makedirs(self.scratch, exist_ok=True)

    def span(self, layer: str, name: str, **attrs):
        import contextlib

        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name, **attrs)

    def prepare(self) -> None:
        raise NotImplementedError

    def once(self, spark) -> tuple[int, int]:
        """Checks run once per run outside the timed window:
        (attempted, failed)."""
        return 0, 0

    def run_pass(self, spark) -> PassResult:
        raise NotImplementedError

    @staticmethod
    def metrics(passes: list[PassResult]) -> dict[str, tuple]:
        """The end-to-end metrics of the timed passes (name -> value, unit);
        every workload reports the same ones."""
        ops = [x for p in passes for x in p.ops]
        return {
            # no operation succeeded: the run is failed anyway
            "op_p50_s": (statistics.median(ops) if ops else 0.0, "s"),
            "pass_s": (statistics.median(p.wall for p in passes), "s"),
        }


class UploadRoundtrip(Workload):
    name = "upload_roundtrip"

    def prepare(self) -> None:
        self.files = gen.upload_backlog(
            os.path.join(self.work, "inputs", f"upload-{self.seed}"), self.seed)

    def run_pass(self, spark) -> PassResult:
        from cartodb_importer_spark.importer import Exporter, Importer
        from cartodb_importer_spark.sinks.catalog import LocalCatalog

        base = tempfile.mkdtemp(prefix="pass_", dir=self.scratch)
        catalog = LocalCatalog(os.path.join(base, "warehouse"))
        out_dir = os.path.join(base, "exports")
        res = PassResult(0.0)
        checking = 0.0  # reading exports back is not part of the pass wall
        t_pass = time.perf_counter()
        for entry in self.files:
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                result = Importer(spark, catalog, entry["path"]).run()
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                res.fail(f"import {entry['path']}: {e!r}")
                continue
            t_import = time.perf_counter() - t0
            bad = checks.check_import(result, entry)
            if bad:
                res.fail(f"import {entry['path']}: {bad}")
                continue
            res.imports.append(result)
            kind = EXPORT_OF[entry["format"]]
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                exported = Exporter(spark, catalog, result.name, type=kind,
                                    out_dir=out_dir).run()
            except Exception as e:  # noqa: BLE001
                res.fail(f"export {kind} {result.name}: {e!r}")
                continue
            t1 = time.perf_counter()
            res.ops.append(t_import + t1 - t0)
            n = checks.archive_rows(exported.path, kind)
            if n != result.rows_imported:
                res.fail(f"export {kind} {result.name}: {n} rows, "
                         f"table has {result.rows_imported}")
            checking += time.perf_counter() - t1
        res.wall = time.perf_counter() - t_pass - checking
        shutil.rmtree(base, ignore_errors=True)
        return res


class QuerySweep(Workload):
    name = "query_sweep"
    #: the cold oracle pass in ``once`` is the warm-up; the first noop pass
    #: after it runs about 8% slower than later ones, but a second warm-up
    #: pass does not fit the run budget
    WARM_PASSES = 0

    def prepare(self) -> None:
        self.sf = gen.sweep_tables(
            os.path.join(self.work, "inputs", f"sf{SWEEP_SF}"), SWEEP_SF)

    def once(self, spark) -> tuple[int, int]:
        """Every headline query against its DuckDB oracle (also the
        first, cold warm-up pass)."""
        import duckdb

        from cartodb_importer_spark.caching import release_tracked_caches
        from cartodb_importer_spark.queries import ORACLES, QUERIES, TABLES

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        res = PassResult(0.0)
        for name in HEADLINE:
            res.attempted += 1
            try:
                got = QUERIES[name](spark, self.sf).toPandas()
                release_tracked_caches()
                bad = checks.compare_frames(got, con.sql(ORACLES[name]).df())
            except Exception as e:  # noqa: BLE001
                bad = repr(e)
            if bad:
                res.fail(f"oracle {name}: {bad}")
        con.close()
        return res.attempted, res.failed

    def run_pass(self, spark) -> PassResult:
        from cartodb_importer_spark.caching import release_tracked_caches
        from cartodb_importer_spark.queries import QUERIES

        res = PassResult(0.0)
        t_pass = time.perf_counter()
        for name in HEADLINE:
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.span("op", "query", query=name):
                    with self.span("queries", f"{name}.build"):
                        df = QUERIES[name](spark, self.sf)
                    with self.span("queries", f"{name}.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                res.fail(f"query {name}: {e!r}")
                continue
            res.ops.append(time.perf_counter() - t0)
            with self.span("caching", "release") as s:
                n = release_tracked_caches()
                if s is not None:
                    s.attrs["released"] = n
        res.wall = time.perf_counter() - t_pass
        return res


WORKLOADS = {w.name: w for w in (UploadRoundtrip, QuerySweep)}
