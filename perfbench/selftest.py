#!/usr/bin/env python3
"""Counter-repeatability self-test of the repo benchmark.

    python3 perfbench/selftest.py [--seed 7] [--ops 8] [--workload NAME ...]

Runs the traced run of each workload twice at one seed with a fixed op
count and compares the counters that a performance claim may rest on:
Spark jobs, stages, tasks, input rows and shuffle bytes per op, committed
state rows per store and jobs per lookup kind. Counts decide and wall time
confirms, so only a counter that repeats exactly may back a claim. Prints
one JSON report (also written to .bench_build/results/selftest.json) and
exits non-zero if a run fails or a counter that must repeat does not.
"""
import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("nifi_flow_batch", "stateful_stream")
COUNTERS = re.compile(
    r"^(spark\.(jobs|stages|tasks|input_rows|shuffle_write_bytes|shuffle_read_bytes)"
    r"|streaming\.[a-z]+\.(state_rows|jobs)|lookup\.[a-z]+\.jobs)$")
# counters whose exact repetition is required for the self-test to pass
REQUIRED = re.compile(
    r"^(spark\.(jobs|stages|tasks|input_rows|shuffle_write_bytes|shuffle_read_bytes)"
    r"|streaming\.[a-z]+\.state_rows|lookup\.[a-z]+\.jobs)$")


def traced_run(workload, seed, ops):
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "60", "--trace", "1", "--ops", str(ops)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"traced run of {workload} failed (exit {out.returncode})")
    skip = set(json.loads(lines[-2])["detail"].get("not_applicable", []))
    return {n: m for n, m in json.loads(lines[-1])["metrics"].items() if n not in skip}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--ops", type=int, default=8)
    ap.add_argument("--workload", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    report = {"seed": args.seed, "ops": args.ops, "workloads": {}}
    ok = True
    for w in args.workload:
        a, b = traced_run(w, args.seed, args.ops), traced_run(w, args.seed, args.ops)
        rows = {}
        for name in sorted(n for n in a if COUNTERS.match(n)):
            va, vb = a[name]["value"], b[name]["value"]
            repeats = va == vb
            rows[name] = {"run1": va, "run2": vb, "repeats": repeats}
            if not repeats and REQUIRED.match(name):
                ok = False
        report["workloads"][w] = rows
    report["passed"] = ok
    results = ROOT / ".bench_build" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / "selftest.json").write_text(json.dumps(report, indent=1))
    print(json.dumps(report))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
