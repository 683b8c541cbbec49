"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median, as
``statistics.quantiles(values, n=4)`` gives the quartiles).

    python3 perfbench/steadiness.py --workload query_sweep --seeds 1-10

Run from the root of a checkout. Each run uses ``run_seconds`` from
BENCHMARK.json; its values go to standard error as it ends, and the table
to standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    secs = str(bench["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in args.seeds:
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed",
                                str(seed), "--seconds", secs, "--trace", "0"],
            capture_output=True, text=True, timeout=900)
        if out.returncode:
            sys.stderr.write(out.stderr[-3000:])
            return out.returncode
        result = json.loads(out.stdout.strip().splitlines()[-1])
        log = out.stderr.splitlines()
        anchors = [float(ln.split()[-2]) for ln in log if "host anchor" in ln]
        steal = [float(ln.split()[-1].rstrip("%")) for ln in log
                 if "cpu steal" in ln]
        runs.append({"seed": seed, "correct": result["correct"],
                     "failed": result["failed"], "host_anchor_s": anchors,
                     "cpu_steal_pct": steal,
                     **{k: v["value"] for k, v in result["metrics"].items()}})
        print(json.dumps(runs[-1]), file=sys.stderr, flush=True)
    print(f"{'metric':24} {'median':>12} {'spread':>8} {'bound':>6}")
    for name in bounds:
        values = [r[name] for r in runs if name in r]
        if len(values) >= 2:
            print(f"{name:24} {statistics.median(values):12.5g} "
                  f"{spread(values):8.4f} {bounds[name]:6.2f}")
    print(f"correct on every run: {all(r['correct'] for r in runs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
