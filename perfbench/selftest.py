"""Benchmark self-test: the exact counts of a traced run repeat across two
runs with the same seed, so later changes may cite them as counts.

    python3 perfbench/selftest.py [--seed N] [--seconds S] [workload ...]

Runs ``run.py --trace 1`` twice per workload (default: every workload in
BENCHMARK.json) and compares every per-layer metric whose unit is
``count``: jobs, stages and tasks per op, decoded rows per batch, state
rows, result rows and lines out. Exits 1 if any differs or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_counts(workload: str, seed: int, seconds: int) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if res.returncode != 0:
        raise SystemExit(f"{workload}: run failed\n{res.stderr[-2000:]}")
    out = json.loads(res.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise SystemExit(f"{workload}: run reported incorrect results")
    return {k: m["value"] for k, m in out["metrics"].items()
            if m["unit"] == "count"}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("workloads", nargs="*",
                   default=[w["name"] for w in bench["workloads"]])
    args = p.parse_args(argv)
    bad = 0
    for w in args.workloads:
        a = traced_counts(w, args.seed, args.seconds)
        b = traced_counts(w, args.seed, args.seconds)
        for k in sorted(a):
            same = a[k] == b.get(k)
            bad += not same
            print(f"{'ok  ' if same else 'DIFF'} {w:14s} {k:32s} "
                  f"{a[k]!r} {b.get(k)!r}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
