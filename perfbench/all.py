"""Run every workload once and print its metrics by name, with units.

    python3 perfbench/all.py [--seed 1] [--seconds 10] [--trace 0]

Each workload runs as its own ``perfbench/run.py`` process, one after the
other. Exits non-zero if a run fails or reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import WORKLOADS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    ok = True
    for workload in WORKLOADS:
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        child = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
        lines = child.stdout.strip().splitlines()
        if child.returncode != 0 or len(lines) < 2:
            sys.stderr.write(child.stderr[-4000:])
            print(f"{workload}: run failed (exit {child.returncode})")
            ok = False
            continue
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        ok &= result["correct"]
        print(
            f"{workload}: correct={result['correct']} attempted={result['attempted']} "
            f"failed={result['failed']} failed_frac={report['failed_frac']:.4f} "
            f"cores={report['cores']} samples={report['samples']}"
        )
        for name, m in result["metrics"].items():
            print(f"  {name:36s} {m['value']:14.4f} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
