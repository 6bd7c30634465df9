"""Recompute the reference figures: repeated runs over seeds, summarized.

    python3 perfbench/reference.py --runs 10 [--workloads corpus,event_bus]
                                   [--first-seed 1] [--seconds 20] [--trace 0]

Runs ``perfbench/run.py`` once per seed and workload, one run at a time,
appends every result line to ``.perfbench_reference.jsonl`` and prints, per
workload and metric, the median, the quartiles and the spread (distance
between the quartiles as a share of the median).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="corpus,event_bus")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_reference.jsonl"))
    args = ap.parse_args()

    for workload in args.workloads.split(","):
        runs, walls = [], []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall_s = time.monotonic() - t0
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append(result)
            walls.append(wall_s)
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, "wall_s": wall_s, **result}) + "\n")
        print(f"{workload}: {len(runs)} runs, {sum(walls):.0f} s in all, failed/attempted "
              f"{sum(r['failed'] for r in runs)}/{sum(r['attempted'] for r in runs)}, "
              f"all correct: {all(r['correct'] for r in runs)}")
        for name, m in runs[0]["metrics"].items():
            values = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, spread = summarize(values) if len(values) > 1 else (values[0],) * 3 + (0.0,)
            print(f"  {name:28s} median {med:12.4f} {m['unit']:8s} "
                  f"q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
