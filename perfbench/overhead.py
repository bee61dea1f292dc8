"""Tracing overhead: traced minus untraced, for each end-to-end metric.

Run from the repository root:

    python3 perfbench/overhead.py --workload search --seed 1 --seconds 10

Runs the benchmark once with ``--trace 0`` and once with ``--trace 1`` on the
same seed and prints ``traced - untraced`` per metric (the traced run reports
its own end-to-end values as ``traced.<metric>``). One pair of runs: read the
result against the metric's run-to-run spread.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def run(args: argparse.Namespace, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    for name, m in plain.items():
        t = traced.get(f"traced.{name}")
        if t is not None:
            print(f"overhead.{name:28s} {t['value'] - m['value']:+14.3f} {m['unit']} "
                  f"({t['value']:.3f} traced, {m['value']:.3f} untraced)")


if __name__ == "__main__":
    main()
