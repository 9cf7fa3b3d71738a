#!/usr/bin/env python3
"""The benchmark's own smoke test.

Runs every workload once untraced and once traced at tiny scale (2,000
pages; curate on the sf0.001 tables) and asserts that each run passes its gates,
fails no call, and prints exactly the metrics BENCHMARK.json names, each
as a finite number with the unit BENCHMARK.json gives it. `ingest` runs
too, although BENCHMARK.json leaves it out (see README.md).

    python3 perfbench/smoke.py        # about five minutes on 4 vCPUs
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for wl in ("extract", "ingest", "curate"):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[key]}
            proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                   "--seed", "7", "--seconds", "2", "--trace", str(trace),
                                   "--scale", "tiny"], capture_output=True, text=True, timeout=600)
            tag = f"{wl} --trace {trace}"
            if proc.returncode != 0:
                failures.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                failures.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                gates = [l for l in proc.stdout.splitlines() if l.startswith("GATE FAILED")]
                failures.append(f"{tag}: correct={res['correct']} failed={res['failed']} {gates}")
            got = res["metrics"]
            if set(got) != set(want):
                failures.append(f"{tag}: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}")
            for name, m in got.items():
                v = m.get("value")
                if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
                    failures.append(f"{tag}: {name} = {v!r}")
                if name in want and m.get("unit") != want[name]:
                    failures.append(f"{tag}: {name} unit {m.get('unit')!r}, expected {want[name]!r}")
            print(f"{tag}: {len(got)} metrics, correct={res['correct']}", flush=True)
    for f in failures:
        print("FAIL " + f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
