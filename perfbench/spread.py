#!/usr/bin/env python3
"""Runs one workload over several seeds and prints, per metric, the median
and the inter-quartile spread as a share of the median (the steadiness
figure BENCHMARK.json's bounds are set against).

Usage, from the repository root:
    python3 perfbench/spread.py <workload> <first seed> <runs> [--trace 1]
"""
import json
import statistics
import subprocess
import sys
import time


def main():
    workload, first, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    trace = sys.argv[5] if len(sys.argv) > 5 and sys.argv[4] == "--trace" else "0"
    values = {}
    for seed in range(first, first + runs):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds",
             str(json.load(open("BENCHMARK.json"))["run_seconds"]),
             "--trace", trace],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: {time.monotonic() - t0:.1f} s wall, correct="
              f"{res['correct']} failed={res['failed']}/{res['attempted']}",
              flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med
        else:
            spread = 0.0
        print(f"{name:40s} median {med:12.4f}  spread {spread:6.3f}  "
              f"values {[round(v, 3) for v in vs]}")


if __name__ == "__main__":
    main()
