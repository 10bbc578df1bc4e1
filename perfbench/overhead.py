"""Tracing overhead of the benchmark: the traced ``pass_s`` over the
untraced one, per workload, from one untraced and one traced run with
the same seed and the ``run_seconds`` of ``BENCHMARK.json``.

    python3 perfbench/overhead.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def last_json(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    for workload in WORKLOADS:
        plain = last_json(workload, args.seed, seconds, 0)["pass_s"]["value"]
        traced = last_json(workload, args.seed, seconds, 1)["trace.pass_s"]["value"]
        print(f"{workload}: tracing overhead {traced / plain:.3f} "
              f"(traced pass_s {traced:.3f} s / untraced pass_s {plain:.3f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
