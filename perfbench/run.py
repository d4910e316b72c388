#!/usr/bin/env python3
"""CDC pipeline benchmark.

Runs one closed-loop workload against the engine in this checkout and
prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a traced run.

    python3 perfbench/run.py --workload snapshot_catchup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Everything the run writes goes under ``perfbench/_work`` (inputs,
Spark scratch; removed at exit) and ``perfbench/_out`` (span files of
traced runs).  See ``perfbench/WORKLOADS.md`` for the workloads and
what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def run_all(args) -> int:
    """Every workload in turn, each in its own process; the last line
    merges their results with metrics prefixed by the workload name."""
    from workloads import NAMES

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] = merged["correct"] and res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    from harness import run_workload

    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
