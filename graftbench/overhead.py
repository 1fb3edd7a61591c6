#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced with the same
seed and print how much each end-to-end metric moved.

    python3 graftbench/overhead.py --workload matmul --seed 1 --seconds 10
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(a, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True, check=True)
    # The line before the result carries every end-to-end metric.
    return json.loads(p.stdout.strip().splitlines()[-2])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    plain, traced = run(a, 0), run(a, 1)
    for k in plain:
        x, y = plain[k]["value"], traced[k]["value"]
        if isinstance(x, (int, float)) and isinstance(y, (int, float)) and x:
            print(f"{k}: untraced {x:.4g} {plain[k]['unit']}, traced {y:.4g} ({(y - x) / x:+.1%})")


if __name__ == "__main__":
    main()
