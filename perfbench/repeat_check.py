#!/usr/bin/env python3
"""Determinism check for the traced counts.

    python3 perfbench/repeat_check.py --workload <name> --seed <n>

Runs the traced benchmark twice on one seed and compares every per-layer
metric whose unit is `count` (jobs, stages, tasks, exchanges, scans, CC
rounds, files). These counts are the deterministic signal a speed claim
carries, so they must repeat exactly. Each run measures BENCHMARK.json's
`run_seconds`. Exits 1 when any differs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    if p.returncode != 0:
        sys.exit(f"traced run failed with exit {p.returncode}")
    metrics = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    return {k: m["value"] for k, m in metrics.items() if m["unit"] == "count"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    seconds = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    first, second = (traced(a.workload, a.seed, seconds) for _ in range(2))
    diff = {k: (first[k], second.get(k)) for k in first if first[k] != second.get(k)}
    for k in sorted(first):
        print(f"{k:32s} {first[k]:>10} {second.get(k):>10}{'  DIFFERS' if k in diff else ''}")
    print("counts repeat exactly" if not diff else f"{len(diff)} count(s) differ")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
