#!/usr/bin/env python3
"""Tracing overhead of one workload: the same seed run untraced and traced.

    python3 perfbench/overhead.py --workload mesh_governance --seed 1 --seconds 15

Prints traced minus untraced ``wall_s`` and ``cpu_s``, then the traced
run's per-layer report.
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> str:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    return subprocess.run(cmd, check=True, capture_output=True, text=True).stdout


def metric(report: str, name: str) -> float:
    return float(re.search(rf"^{name}=([0-9.]+)$", report, re.M).group(1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    for name in ("wall_s", "cpu_s"):
        a, b = metric(plain, name), metric(traced, name)
        print(f"trace overhead {name}: {b - a:+.4f} s ({(b - a) / a:+.1%}; untraced {a:.4f}, traced {b:.4f})")
    print("per-layer times (s):" + traced.split("per-layer times (s):", 1)[1].rsplit("\n", 2)[0])


if __name__ == "__main__":
    main()
