#!/usr/bin/env python3
"""Run the benchmark once per seed and summarize each metric.

    python3 perfbench/spread.py join_broadcast 1 2 3 4 5 [--trace 1]
        [--seconds 5] [--out results.jsonl]

Prints, per metric, the median, the first and third quartiles and the
quartile spread (Q3 - Q1) as a share of the median, which is how a
metric's bound in BENCHMARK.json is checked. Runs are sequential; each
finishes before the next starts.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="spread")
    p.add_argument("workload")
    p.add_argument("seeds", nargs="+", type=int)
    p.add_argument("--seconds", default=None)
    p.add_argument("--trace", default="0")
    p.add_argument("--out", default=None)
    args = p.parse_args(argv)

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or str(bench["run_seconds"])
    results = []
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload,
               "--seed", str(seed), "--seconds", seconds,
               "--trace", args.trace]
        proc = subprocess.run(cmd, cwd=HERE.parent, capture_output=True,
                              text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        res["seed"] = seed
        results.append(res)
        print(f"seed {seed}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}",
              file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "a") as f:
            for res in results:
                f.write(json.dumps(res) + "\n")
    names = list(results[0]["metrics"])
    print(f"{'metric':32} {'median':>14} {'q1':>14} {'q3':>14} spread")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                     else (vals[0],) * 3)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:32} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:6.3f}")
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
