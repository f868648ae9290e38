#!/usr/bin/env python3
"""Repo benchmark for graft: runs one named workload and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark and
graft from source with sbt (offline) into .bench_build/; later runs reuse
that build while the sources are unchanged. The JVM side
(perfbench/src/main/scala) generates the seeded inputs, runs the closed
loop and checks the outputs. The last line of standard output is one JSON
object: correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). The line before it carries
the run's detail: sample counts, the percentile behind op_tail_s, and
the measured input properties. Exits non-zero when an output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("nifi_flow_batch", "stateful_stream")
# per-layer metric prefixes of layers a workload never calls; the traced
# run must emit every other per-layer metric itself
NOT_CALLED = {
    "nifi_flow_batch": ("streaming.", "lookup."),
    "stateful_stream": ("sources.", "functions.", "engine.", "operators."),
}
RUN_TIMEOUT_S = 170
HEAP = "2g"
BUILD_TIMEOUT_S = 840

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in sbt_opts:
        sbt_opts = (sbt_opts + " -Dsbt.offline=true").strip()
    env["SBT_OPTS"] = sbt_opts
    log("building graft and the benchmark with sbt (first run only)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = next((l.strip() for l in reversed(lines)
               if ".jar" in l and not l.startswith("[")), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"[perfbench] build failed (exit {proc.returncode})")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def delete_tree(p):
    if p.exists():
        shutil.rmtree(p, ignore_errors=True)


def declared_metrics():
    """(end_to_end, per_layer) name -> unit from BENCHMARK.json, if present."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        return {}, {}
    j = json.loads(spec.read_text())
    return ({m["name"]: m["unit"] for m in j["end_to_end"]},
            {m["name"]: m["unit"] for m in j["per_layer"]})


def run_jvm(args, classpath, work, results):
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed-size heap, its pages touched at JVM start: a growing heap
    # resizes at run-dependent moments, and first touches of heap pages
    # during the timed ops cost a varying share of it; either spread the
    # op latencies of identical runs by about 20%
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", str(work), "--results", str(results),
            "--ops", str(args.ops)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", type=int, default=0,
                    help="run exactly this many ops instead of --seconds of them")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no graft sources next to {BENCH.name}/: run from a full checkout")
        return 2
    classpath = build()

    work = BUILD / "work" / args.workload
    results = BUILD / "results"
    delete_tree(work)
    try:
        code, out = run_jvm(args, classpath, work, results)
    finally:
        delete_tree(work)
    detail = result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("PERFBENCH_DETAIL "):
            detail = json.loads(line[len("PERFBENCH_DETAIL "):])
        else:
            print(line, file=sys.stderr)
    if result is None:
        log(f"no result (JVM exit {code})")
        return code or 3

    e2e, layers = declared_metrics()
    declared = layers if args.trace else e2e
    metrics = result["metrics"]
    for name, unit in declared.items():
        if name in metrics and metrics[name]["unit"] != unit:
            log(f"metric {name}: unit {metrics[name]['unit']} != declared {unit}")
            return 4
    if args.trace:
        missing = [n for n in declared if n not in metrics]
        called = [n for n in missing if not n.startswith(NOT_CALLED[args.workload])]
        if called:
            log(f"per-layer metrics of layers {args.workload} calls are missing: {called}")
            return 4
        # metrics of layers this workload never calls: zero calls, zero cost
        for name in missing:
            metrics[name] = {"value": 0.0, "unit": declared[name]}
        detail["not_applicable"] = missing
    elif declared and set(metrics) != set(declared):
        log(f"end-to-end metrics {sorted(metrics)} != declared {sorted(declared)}")
        return 4
    if declared:
        result["metrics"] = {n: metrics[n] for n in declared}
    detail.update(workload=args.workload, seed=args.seed, trace=args.trace, cores=cores())
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-{args.seed}-t{args.trace}.json").write_text(
        json.dumps({"detail": detail, "result": result}, indent=1))
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
