#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload research_api --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds graft plus the benchmark's Scala sources
(first run only), generates the workload's inputs from the seed, runs the
workload on local[N] (N = nproc capped at 4) and prints, as the last line, a
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones with
--trace 1. Lines before it are human-readable detail.
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

from bench import build, gen, report  # noqa: E402

SETUPS = 3
JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(root, build_dir)

    work = os.path.join(root, ".bench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        inp = os.path.join(work, "input")
        gen.generate(args.workload, args.seed, inp)
        os.makedirs(os.path.join(work, "tmp"))
        raw_path = os.path.join(work, "raw.json")
        cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m",
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
                "-Dspark.ui.enabled=false"]
               + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JDK_OPENS]
               + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
                  "perfbench.Main", "--workload", args.workload, "--input", inp,
                  "--work", work, "--out", raw_path, "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--setups", str(SETUPS),
                  "--cores", str(cores())])
        log = os.path.join(work, "jvm.log")
        t0 = time.time()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(raw_path):
            with open(log, errors="replace") as lf:
                sys.stderr.write(lf.read()[-6000:])
            raise SystemExit("perfbench: JVM exited with %s after %.0f s" % (rc, time.time() - t0))
        with open(raw_path) as f:
            raw = json.load(f)
        with open(log, errors="replace") as lf:
            for line in lf:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics, lines = report.per_layer(args.workload, raw)
        names = spec["per_layer"]
    else:
        metrics, lines = report.end_to_end(args.workload, raw)
        names = spec["end_to_end"]
    for line in lines:
        print(line)
    out = {}
    missing = []
    for m in names:
        v = metrics.get(m["name"])
        if v is None and not args.trace:
            missing.append(m["name"])
        out[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    # a workload that threw outside any op counts as one more failed op
    aborted = int("aborted" in raw.get("gauges", {}))
    attempted = len(raw["ops"]) + aborted
    failed = sum(1 for o in raw["ops"] if not o["ok"]) + aborted
    correct = failed == 0 and not missing
    if missing:
        print("missing metrics: " + ", ".join(missing))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
