#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py <workload> [runs=10] [first_seed=1]

Runs the workload once per seed, as the benchmark's acceptance check
does, and prints for each end-to-end metric its values, median and
interquartile range as a share of the median (statistics.quantiles with
n=4), next to the metric's bound from BENCHMARK.json.
"""
import json
import os
import statistics
import subprocess
import sys


def main():
    workload = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    first = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {m: [] for m in bounds}
    for seed in range(first, first + runs):
        p = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: exit {p.returncode} correct {res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4)
        print(f"{workload} {k}: median {med:.4g} spread {(q[2] - q[0]) / med:.3f} "
              f"bound {bounds[k]}")


if __name__ == "__main__":
    main()
