#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

  python3 perfbench/spread.py WORKLOAD [RUNS] [FIRST_SEED]

Makes RUNS untraced runs (default 10), each with its own seed, and prints
per metric the median, the quartiles (statistics.quantiles, n=4) and the
spread, (Q3 - Q1) / median, next to the metric's bound from
BENCHMARK.json. Each run's result line goes to stderr as it lands.
"""
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    workload = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    first = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values, failed, attempted = {}, [], []
    for seed in range(first, first + runs):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {json.dumps(res)}", file=sys.stderr)
        failed.append(res["failed"])
        attempted.append(res["attempted"])
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"{workload}: {runs} runs, failed/attempted "
          f"{sum(failed)}/{sum(attempted)}")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"  {m['name']:14s} median {med:10.4g} {m['unit']:10s} "
              f"Q1 {q1:10.4g}  Q3 {q3:10.4g}  spread {(q3 - q1) / med:6.3f}  "
              f"bound {m['bound']}")


if __name__ == "__main__":
    main()
