"""Run every workload once, untraced, and print each end-to-end metric.

    python3 perfbench/report.py [--seed 1] [--seconds 10]

For each workload the table gives every end-to-end metric with its unit,
sample count, median and quartiles, and whether the correctness gate passed
(``failed`` of ``attempted`` passes). Exits non-zero if any run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    status = 0
    print(f"{'workload':12s} {'metric':14s} {'unit':5s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s}")
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name:12s} run failed with code {proc.returncode}\n{proc.stderr[-2000:]}")
            status = 1
            continue
        for line in lines[:-1]:
            if line.startswith("perfbench metric "):
                fields = line.split()
                kv = dict(f.split("=", 1) for f in fields[3:])
                print(f"{name:12s} {fields[2]:14s} {kv['unit']:5s} {kv['n']:>3s} "
                      f"{kv['median']:>12s} {kv['q1']:>12s} {kv['q3']:>12s}")
        result = json.loads(lines[-1])
        print(f"{name:12s} correct={result['correct']} failed={result['failed']} "
              f"attempted={result['attempted']}")
        status |= not result["correct"]
    return status


if __name__ == "__main__":
    sys.exit(main())
