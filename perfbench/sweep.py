#!/usr/bin/env python3
"""Run the repo benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py [--workload NAME ...] [--seeds 1-10] [--trace 0] [--out FILE]

For every workload and end-to-end metric (or per-layer metric with
--trace 1) prints the median, the first and third quartiles
(statistics.quantiles(values, n=4)) and the spread: the distance between
the quartiles as a share of the median. Every run must report correct;
the sweep exits non-zero otherwise.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out", help="write runs and summary as JSON here")
    args = ap.parse_args()
    report, ok = {}, True
    for w in args.workload:
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {s}: failed (exit {p.returncode})", flush=True)
                ok = False
                continue
            detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
            ok &= bool(result["correct"]) and result["failed"] == 0
            runs.append({"seed": s, "wall_s": round(time.time() - t0, 1),
                         "ops": detail.get("ops"), "result": result})
            print(f"{w} seed {s}: wall {runs[-1]['wall_s']} s, ops {detail.get('ops')}",
                  flush=True)
        summary = {}
        for name in (runs[0]["result"]["metrics"] if runs else {}):
            xs = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            summary[name] = {"median": med, "q1": q1, "q3": q3, "n": len(xs),
                             "spread": (q3 - q1) / med if med else 0.0}
            print(f"  {w:16s} {name:28s} median {med:.5g}  q1 {q1:.5g}  q3 {q3:.5g}  "
                  f"spread {summary[name]['spread']:.3f}", flush=True)
        report[w] = {"runs": runs, "summary": summary}
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
