#!/usr/bin/env python3
"""Self-test: the count-type per-layer metrics (jobs, stages, tasks, rows,
tables changed) must repeat exactly across two traced runs of the same
workload and seed. A count that moves between identical runs cannot
support a claim, so this fails loudly when one does.

Usage, from the repository root:
    python3 perfbench/selftest.py [workload ...]
"""
import json
import subprocess
import sys

COUNT_SUFFIXES = (".jobs", ".stages", ".tasks", ".rows", ".tables_changed",
                  ".build_jobs")


def counts(workload, seed):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"{workload}: run failed its output checks")
    return {k: m["value"] for k, m in res["metrics"].items()
            if k.endswith(COUNT_SUFFIXES)}


def main():
    workloads = sys.argv[1:] or ["etl_ticks", "llm_ops"]
    bad = 0
    for w in workloads:
        a, b = counts(w, 7), counts(w, 7)
        moved = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
        for k, (x, y) in sorted(moved.items()):
            print(f"{w}: {k} moved {x} -> {y}")
        print(f"{w}: {len(a) - len(moved)}/{len(a)} counts repeat exactly")
        bad += len(moved)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
