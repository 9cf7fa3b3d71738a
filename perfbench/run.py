#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload extract|ingest|curate --seed N \
        --seconds S --trace 0|1 [--scale full|tiny]

Builds the engine and the benchmark from source (build.py), runs the
workload in its own JVM at local[nproc] (perfbench.Main), checks every
output (the curate results against their DuckDB oracles with
tools/selfcheck.py --pyfold, after the JVM exits), and prints as its last
line one JSON object with the keys correct, attempted, failed and metrics.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
RUN_LIMIT_S = 175

def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def selfcheck(tables, results, limit):
    """The curate results against their DuckDB oracles, by the engine's own
    tools/selfcheck.py in its --pyfold mode (the recursive folds in Python);
    returns one message per query that is not `[OK]` or came out empty."""
    try:
        proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
                               tables, results, "--pyfold"], capture_output=True, text=True,
                              timeout=max(limit, 10))
    except subprocess.TimeoutExpired:
        return ["selfcheck.py exceeded the run's time limit"]
    lines = proc.stdout.splitlines()
    errors = [l for l in lines if not l.startswith("[OK")]
    errors += [l + " (empty result)" for l in lines if l.startswith("[OK") and l.endswith(": 0 rows")]
    if proc.returncode != 0 and not errors:
        errors.append(f"selfcheck.py exited {proc.returncode}: {proc.stderr[-500:]}")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["extract", "ingest", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    a = ap.parse_args()
    t_start = time.monotonic()

    out_dir = build.build()
    built_s = time.monotonic() - t_start
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(ROOT, ".bench_work", a.workload + ".result.json")
    log = os.path.join(ROOT, ".bench_work", a.workload + ".jvm.log")
    if os.path.exists(out):
        os.remove(out)

    cmd = build.jvm(out_dir, work, ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                                    "--scale", a.scale, "--tables", build.tables(a.scale),
                                    "--out", out])
    # a run that had to build may use the longer first-run allowance
    deadline = t_start + (890 if built_s > 5 else RUN_LIMIT_S)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {a.workload} JVM exceeded its time limit; see {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"perfbench: {a.workload} JVM exited with {rc}; see {log}")
    with open(out) as f:
        res = json.load(f)

    errors = list(res["gate_errors"])
    if a.workload == "curate":
        errors += selfcheck(build.tables(a.scale), os.path.join(work, "results"),
                            deadline - time.monotonic())

    facts = dict(res["facts"], mem_total_kb=build.mem_total_kb(), heap=f"-Xmx{build.heap_gb()}g",
                 commit=git_commit(),
                 workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                 scale=a.scale, calls=res["calls"])
    print("host " + json.dumps(facts, sort_keys=True))
    for name, q in res["summary"].items():
        print(f"{name} " + json.dumps(q, sort_keys=True))
    for e in errors:
        print("GATE FAILED " + e)
    # the inputs are regenerated by every run; keep only the trace and logs
    for entry in os.listdir(work):
        if entry != "trace.json":
            path = os.path.join(work, entry)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    print(json.dumps({
        "correct": not errors and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))


if __name__ == "__main__":
    main()
