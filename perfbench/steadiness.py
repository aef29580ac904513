#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steadiness.py --runs 10 [--workload NAME ...] [--first-seed 1]

Runs each workload of ``BENCHMARK.json`` ``--runs`` times untraced, each
time with another seed, and reports for every end-to-end metric its median
and its spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound. It then makes one traced run on the first seed and
reports the traced minus untraced ``workload_s`` as the tracing overhead.
Exits 1 if a spread other than ``setup_s``'s exceeds its bound or a run
fails. Results go to ``.perfbench_work/steadiness.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [*bench["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise RuntimeError(f"{workload} seed {seed}: incorrect result {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()

    report, ok = {}, True
    for workload in args.workload or [w["name"] for w in bench["workloads"]]:
        runs = []
        for i in range(args.runs):
            runs.append(run_once(bench, workload, args.first_seed + i, trace=0))
            print(f"{workload} seed {args.first_seed + i}: "
                  + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
        rows = {}
        for metric in bench["end_to_end"]:
            name, bound = metric["name"], metric["bound"]
            values = [r[name] for r in runs]
            s = spread(values)
            rows[name] = {"median": statistics.median(values), "spread": s, "bound": bound,
                          "within_third": s <= bound / 3, "values": values}
            if name != "setup_s" and s > bound:
                ok = False
            print(f"  {name:16s} median {rows[name]['median']:12.4f}  spread {s:6.3f}"
                  f"  bound {bound:.2f}  {'ok' if s <= bound / 3 else 'WIDE' if s > bound else 'near'}")
        traced = run_once(bench, workload, args.first_seed, trace=1)
        overhead = traced["trace.workload_s"] - runs[0]["workload_s"]
        rows["trace.overhead_s"] = traced["trace.overhead_s"]
        rows["traced_minus_untraced_workload_s"] = overhead
        print(f"  tracing overhead: {traced['trace.overhead_s']:.3f} s reading counters; "
              f"traced - untraced workload_s {overhead:.3f} s (seed {args.first_seed})")
        report[workload] = rows
    out = ROOT / ".perfbench_work" / "steadiness.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
