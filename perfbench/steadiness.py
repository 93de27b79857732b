#!/usr/bin/env python3
"""Steadiness report: run one workload N times and summarise each metric.

    python3 perfbench/steadiness.py --workload dashboard_pipeline [--runs 10] [--first-seed 1]

Runs ``perfbench/run.py`` untraced once per seed (``--first-seed`` and
the N - 1 after it), one after another, for the ``run_seconds`` of
``BENCHMARK.json``. Prints for every metric the
median, the first and third quartiles (``statistics.quantiles(values,
n=4)``), the quartile spread as a share of the median, and max/min; and
each run's ``host.steal_frac``, the share of host CPU time the
hypervisor took, which explains a slow run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: float) -> tuple[dict, float]:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", "0",
        ],
        cwd=ROOT,
        check=True,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    ).stdout.splitlines()
    steal = next(float(line.split()[1]) for line in out if line.startswith("host.steal_frac "))
    return json.loads(out[-1]), steal


def summary(values: list[float]) -> str:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("nan")
    ratio = max(values) / min(values) if min(values) else float("nan")
    return f"median={med:.6g} q1={q1:.6g} q3={q3:.6g} iqr/median={spread:.4f} max/min={ratio:.4f}"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    per_metric: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        result, steal = one_run(args.workload, seed, seconds)
        for name, m in result["metrics"].items():
            per_metric.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        shown = " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items())
        print(
            f"seed={seed} correct={result['correct']} failed={result['failed']}/"
            f"{result['attempted']} host.steal_frac={steal:.4f} {shown}",
            flush=True,
        )
    print(f"# {args.workload}: {args.runs} runs, --seconds {seconds:g}, --trace 0")
    for name, values in per_metric.items():
        print(f"{name} [{units[name]}] {summary(values)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
