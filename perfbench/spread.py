"""Run the benchmark on several seeds and report each metric's spread.

The spread is the distance between the first and third quartile of
the per-run values (``statistics.quantiles(values, n=4)``) as a share
of their median; BENCHMARK.json bounds how far each end-to-end metric
may move. Run from the repository root::

    python3 perfbench/spread.py --workload incremental_upsert --seeds 1-10 --seconds 8
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seeds", required=True, help="e.g. 1-10")
    parser.add_argument("--seconds", default="8")
    parser.add_argument("--trace", default="0")
    args = parser.parse_args()
    values: dict = {}
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        host = next((l for l in lines if l.startswith("# host ")), "")
        result = json.loads(lines[-1])
        print(f"seed {seed}: attempted {result['attempted']} failed {result['failed']} "
              f"correct {result['correct']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        print("   ", host, flush=True)
        for key, metric in result["metrics"].items():
            values.setdefault(key, []).append(metric["value"])
    for key, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{key:28s} median {med:10.4f}  spread {spread:6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
