"""Benchmark entry point.

    python3 perfbench/run.py --workload upload_roundtrip --seed 1 \
        --seconds 16 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Everything the run writes lands under ``.perfbench_work/``
in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.getcwd()
PACKAGE = "cartodb_importer_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = len(os.sched_getaffinity(0))
#: timed passes per run at least: the first pass after warm-up is still
#: warming (the JIT), so a median over one pass reads it alone
MIN_PASSES = 2


def _environment() -> None:
    """Pin the engine to this host's cores and keep every temporary file,
    Spark local dir and warehouse inside the checkout. Must run before the
    package is imported: session.py reads SPARK_GRAFT_CPUS at import."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(NPROC),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "spark-warehouse"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _spark_conf(event_dir: str | None) -> dict[str, str]:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            # Spark 4 compresses event logs with zstd by default, and no
            # Python zstd module is at hand to read them back
            "spark.eventLog.compress": "false",
        })
    return conf


def start_spark(event_dir: str | None = None):
    """(session, seconds from get_spark to the first trivial action)."""
    from cartodb_importer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(event_dir))
    spark.range(1).count()
    setup = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (the JVM quits when
    its standard input closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def host_anchor() -> float:
    """Fixed pure-Python CPU loop, median of 3 (seconds)."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_START:6.1f}s]: {msg}",
          file=sys.stderr, flush=True)


def warm_up(wl, spark) -> tuple[int, int]:
    """wl.WARM_PASSES untimed passes; returns (attempted, failed)."""
    walls: list[float] = []
    attempted = failed = 0
    for _ in range(wl.WARM_PASSES):
        res = wl.run_pass(spark)
        attempted += res.attempted
        failed += res.failed
        walls.append(res.wall)
    log(f"warm-up {len(walls)} passes: "
        + " ".join(f"{w:.2f}" for w in walls))
    return attempted, failed


def run(args) -> dict:
    import spans
    import workloads

    wl = workloads.WORKLOADS[args.workload](WORK, args.seed)
    wl.prepare()
    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, f"events-{os.getpid()}")
        os.makedirs(event_dir)
    spark, setup = start_spark(event_dir)
    log(f"setup {setup:.3f} s")
    try:
        attempted, failed = wl.once(spark)
        a, f = warm_up(wl, spark)
        attempted, failed = attempted + a, failed + f
        log(f"host anchor before {host_anchor():.4f} s")
        steal0, total0 = cpu_ticks()
        if not args.trace:
            passes = []
            t0 = time.perf_counter()
            while (len(passes) < MIN_PASSES
                   or time.perf_counter() - t0 < args.seconds):
                passes.append(wl.run_pass(spark))
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in wl.metrics(passes).items()}
            metrics["setup_s"] = {"value": setup, "unit": "s"}
            log(f"window {len(passes)} passes, "
                f"{sum(len(p.ops) for p in passes)} timed operations; "
                "pass walls " + " ".join(f"{p.wall:.2f}" for p in passes))
        else:
            # untraced twins before and after the traced pass, so that
            # warm-up drift cancels out of the tracing overhead
            passes = [wl.run_pass(spark)]
            tracer = spans.Tracer(spark.sparkContext)
            wl.tracer = tracer
            patches = spans.Patches(tracer).install()
            try:
                traced = wl.run_pass(spark)
            finally:
                patches.undo()
                wl.tracer = None
            passes += [wl.run_pass(spark), traced]
            jvm_mb = jvm_peak_rss_mb(spark)
        for p in passes:
            attempted += p.attempted
            failed += p.failed
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests: the usual cause of
        # a slow run on a shared host
        log(f"cpu steal in the timed passes "
            f"{100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}%")
        log(f"host anchor after {host_anchor():.4f} s")
    finally:
        stop_spark(spark)
    log("session stopped")
    if args.trace:
        import layers

        log_ = spans.read_event_logs(event_dir)
        shutil.rmtree(event_dir, ignore_errors=True)
        values = layers.per_layer(
            layers.Pass(tracer.spans, log_), wl, traced,
            epoch_offset=tracer.epoch_offset, wall=traced.wall,
            failed_ratio=failed / max(attempted, 1),
            overhead_s=traced.wall - (passes[0].wall + passes[1].wall) / 2,
            driver_rss_mb=resource.getrusage(
                resource.RUSAGE_SELF).ru_maxrss / 1024,
            jvm_rss_mb=jvm_mb)
        metrics = {k: {"value": v, "unit": layers.unit(k)}
                   for k, v in values.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ package in {ROOT}: run from a checkout's root")
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    _environment()
    result = run(args)
    print(json.dumps(result))
    log("done")
    return 0


if __name__ == "__main__":
    sys.exit(main())
