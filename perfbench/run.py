#!/usr/bin/env python3
"""perfbench: the repository benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload ingest_backlog --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. Builds the program and the harness into
.bench_build/ when their sources changed, runs one workload in a fresh
JVM with a fresh scratch root, checks every output, and prints the
named figures followed by one JSON result line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 the per-layer ones and writes the spans
to .bench_build/traces/. Exits non-zero when a check fails.
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
import metrics  # noqa: E402

WORKLOADS = ("ingest_backlog", "bronze_live", "llm_query_mix")
DATA = os.path.join(HERE, "data", "sf0.01")  # llm_query_mix input
DEADLINE_S = 170  # per run, after any build
# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(args, root, classpath, spans_file, deadline):
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", root, "--out", os.path.join(root, "raw.json"),
            "--spans", spans_file, "--data", DATA])
    log_file = os.path.join(root, "jvm.log")
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=deadline - time.time())
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
    if code != 0:
        with open(log_file) as f:
            sys.stderr.writelines(f.readlines()[-40:])
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    classpath = build.build()
    deadline = time.time() + DEADLINE_S
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"]
             for m in spec["per_layer" if args.trace else "end_to_end"]]
    root = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    spans_file = os.path.abspath(os.path.join(
        traces, f"{args.workload}-seed{args.seed}.spans.json"))
    spawn_ms = time.time() * 1000.0
    try:
        code = run_jvm(args, root, classpath, spans_file, deadline)
        with open(os.path.join(root, "raw.json")) as f:
            raw = json.load(f)
        with open(os.path.join(HERE, "mix_digests.json")) as f:
            want = json.load(f)
        found, details, checks = metrics.end_to_end(raw, spawn_ms, want)
        if args.trace:
            with open(spans_file) as f:
                spans = json.load(f)
            found, more = metrics.per_layer(raw, spans, names, want)
            checks += more
    finally:
        shutil.rmtree(root, ignore_errors=True)

    ops = raw["ops"]
    failed_checks = [(n, d) for n, ok, d in checks if not ok]
    attempted = ops["attempted"] + len(checks)
    failed = ops["failed"] + len(failed_checks)
    for e in ops["errors"]:
        print(f"error {e}")
    for n, d in failed_checks:
        print(f"check failed {n}: {d}")
    for n, (v, unit) in details.items():
        print(f"detail {n} {v:.6g} {unit}")
    missing = [n for n in names if n not in found]
    if missing:
        print(f"error metrics not produced: {missing}")
        failed += 1
    out = {n: {"value": float(found[n]), "unit": units[n]}
           for n in names if n in found}
    for n, m in out.items():
        print(f"metric {n} {m['value']:.6g} {m['unit']}")
    correct = code == 0 and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
