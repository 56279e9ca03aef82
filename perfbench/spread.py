"""Run the benchmark once per seed and print each metric's median and
interquartile spread as a share of the median.

    python3 perfbench/spread.py WORKLOAD SEED [SEED ...] [--trace 1] [--seconds 8]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import median, spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json's run_seconds")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        lines = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=True,
        ).stdout.splitlines()
        result = json.loads(lines[-1])
        samples = json.loads(lines[-2])["info"]["samples"]
        print(
            f"seed {seed}: correct={result['correct']} attempted={result['attempted']}"
            f" run {time.perf_counter() - t0:.1f} s, operations {samples['walls']} cpu {samples['cpus']}",
            flush=True,
        )
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        s = spread(vs) if len(vs) >= 2 and median(vs) else float("nan")
        print(f"{name:40s} median {median(vs):14.4f}  spread {s:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
