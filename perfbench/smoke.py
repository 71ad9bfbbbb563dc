#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [workload ...]

Runs each workload of BENCHMARK.json (or the ones named) at tiny sizes,
twice: an end-to-end run that must pass its correctness gate and emit
every end-to-end metric, and a traced run with one expected output
planted wrong, which must emit every per-layer metric and must fail the
gate. Exits non-zero on the first broken expectation.
"""
import json
import os
import subprocess
import sys

PLANT = {"ep2_ingest": "unhappy", "analytics_sweep": "oracle"}


def run(workload, trace, plant=""):
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--tiny"] + (["--plant", plant] if plant else [])
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload}: no result line")
    return p.returncode, json.loads(lines[-1]), p.stderr


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    for w in workloads:
        code, res, err = run(w, 0)
        missing = [m for m in e2e if m not in res["metrics"]]
        if code != 0 or not res["correct"] or missing:
            sys.stderr.write(err[-3000:])
            raise SystemExit(f"FAIL {w}: exit {code}, correct {res['correct']}, missing {missing}")
        code, res, err = run(w, 1, PLANT[w])
        missing = [m for m in layer if m not in res["metrics"]]
        if missing:
            raise SystemExit(f"FAIL {w}: traced run lacks {missing}")
        if code == 0 or res["correct"]:
            raise SystemExit(f"FAIL {w}: the gate did not fire on a planted wrong output")
        print(f"ok {w}: {len(e2e)} end-to-end and {len(layer)} per-layer metrics; "
              f"planted error caught")
    print("smoke test passed")


if __name__ == "__main__":
    main()
