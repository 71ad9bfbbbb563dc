#!/usr/bin/env python3
"""Run one benchmark workload end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Each run generates its inputs
from the seed, starts one JVM that sets up the workload and measures it,
checks the outputs, and prints one JSON result line last. A run whose
outputs are wrong prints `"correct": false` and exits with code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = ".bench_build"
MAIN = "perfbench.Main"
RUN_LIMIT_S = 170  # one JVM, so that a run ends within 180 s


# Spark 4 on JDK 17 outside spark-submit needs these (the engine's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def source_fingerprint():
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; returns the runtime classpath."""
    for need in ["build.sbt", "src/main/scala", "perfbench/build.sbt"]:
        if not os.path.exists(need):
            fail(f"'{need}' not found: run from the repository root")
    fp = source_fingerprint()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("fingerprint") == fp:
            return saved["classpath"], fp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp,
                   "build_s": time.time() - t0}, f)
    return cp, fp


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def ep2_files(seconds, tiny):
    """(role, round, rows) per file, the open-loop period in ms and phase
    A's share of the measured time."""
    warm = [("warm", 0, 200 if tiny else 1000)] * 3
    rows_a, per_round, rounds = (500, 2, 4) if tiny else (10000, 2, 14)
    period, rows_b = (0.4, 200) if tiny else (1.0, 200)
    share = 0.6
    n_b = max(2, int(seconds * (1 - share) / period))
    files = warm + [("A", r, rows_a) for r in range(rounds) for _ in range(per_round)]
    files += [("B", 0, rows_b)] * n_b
    return files, period * 1000, share


def generate(workload, seed, seconds, tiny, inputs):
    t0 = time.time()
    if workload == "ep2_ingest":
        files, period_ms, share = ep2_files(seconds, tiny)
        m = gen.ep2(seed, inputs, 1500 if tiny else 15000,
                    [(role, rows) for role, _, rows in files])
        for f, (_, rnd, _) in zip(m["files"], files):
            f["round"] = rnd
        m["period_ms"] = period_ms
        m["phase_a_share"] = share
    elif workload == "analytics_sweep":
        m = gen.fixtures(seed, inputs, 0.1 if tiny else 1.0)
    else:
        fail(f"unknown workload '{workload}'")
    gen.write_manifest(m, os.path.join(inputs, "manifest.json"))
    return time.time() - t0


# --------------------------------------------------------------------------
# run
# --------------------------------------------------------------------------

def run_jvm(cp, args, run_dir, deadline):
    # a fixed young generation keeps the peak RSS from following GC timing
    cmd = (["java", "-Xmx3g", "-Xmn768m", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, MAIN] + args)
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes: tiny inputs")
    ap.add_argument("--plant", default="",
                    help="smoke test only: corrupt one expected output")
    a = ap.parse_args(argv)
    started = time.time()
    cp, fp = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    prepare_s = generate(a.workload, a.seed, a.seconds, a.tiny, inputs)
    if a.plant:
        plant(a.plant, inputs)
    out = os.path.join(run_dir, "result.json")
    code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--inputs", inputs, "--work", os.path.join(run_dir, "work"),
                        "--out", out], run_dir, deadline)
    if code is None or not os.path.exists(out):
        with open(f"{run_dir}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        fail("the JVM " + ("timed out" if code is None else f"exited {code} without a result"), 1)
    with open(out) as f:
        res = json.load(f)
    if a.workload == "analytics_sweep":
        import oracle
        t0 = time.time()
        errs = oracle.check(inputs, os.path.join(run_dir, "work"))
        res["evidence"]["oracle_check_s"] = str(round(time.time() - t0, 3))
        res["errors"] += errs
        res["failed"] += len(errs)
        res["correct"] = res["correct"] and not errs
    metrics = res["metrics"] if a.trace == 0 else res["per_layer"]
    if a.trace == 1:
        metrics["gen.prepare_s"] = {"value": prepare_s, "unit": "s"}
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    wanted = [m["name"] for m in bench["end_to_end" if a.trace == 0 else "per_layer"]]
    missing = [m for m in wanted if m not in metrics]
    if missing:
        res["correct"] = False
        res["errors"].append(f"metrics not measured: {missing}")
    for e in res["errors"]:
        print(f"perfbench: {a.workload}: {e}", file=sys.stderr)
    # keep the last run's spans and result for inspection
    keep = os.path.join(BUILD, "last")
    os.makedirs(keep, exist_ok=True)
    shutil.copy(out, os.path.join(keep, f"{a.workload}-trace{a.trace}.json"))
    shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(keep, f"{a.workload}-trace{a.trace}.log"))
    spans = os.path.join(run_dir, "work", "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(keep, f"{a.workload}-spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    evidence = dict(res["evidence"], source_sha256=fp[:16],
                    wall_s=round(time.time() - started, 3), gen_prepare_s=round(prepare_s, 3))
    print("perfbench evidence " + json.dumps(evidence))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": max(1, int(res["attempted"])),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": metrics[k]["value"], "unit": metrics[k]["unit"]}
                    for k in wanted if k in metrics},
    }))
    sys.exit(0 if res["correct"] else 1)


def plant(what, inputs):
    """Smoke test: make one expected output wrong, so the gate must fire."""
    path = os.path.join(inputs, "manifest.json")
    with open(path) as f:
        m = json.load(f)
    if what == "unhappy":
        m["files"][-1]["unhappy"] += 1
    elif what == "oracle":
        m["plant_oracle"] = True
    with open(path, "w") as f:
        json.dump(m, f)


if __name__ == "__main__":
    main()
