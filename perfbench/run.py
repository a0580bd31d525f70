#!/usr/bin/env python3
"""Benchmark launcher: builds the program and the benchmark from source,
runs one workload in a plain JVM (no sbt wrapper on stdout), and prints one
JSON object per line: every metric, the failures, the effective Spark conf,
and last the result object.

    python3 perfbench/run.py --workload epss_store --seed 1 --seconds 10 --trace 0

Workloads: epss_store, suite_floor, suite_kernels (see perfbench/README.md).
--trace 1 runs the same measured phase twice, the second time with spans and
Spark listeners on, and reports the per-layer metrics instead of the
end-to-end ones. --write-expected 1 rewrites the suite's expected
fingerprint file instead of checking against it (for maintainers).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
JVM_TIMEOUT_S = 170
# Same JVM flags the root build gives Verify/Bench (build.sbt javaOptions),
# with a smaller heap.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, or the jars of a Spark install on the PATH (the
    same lookup as build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            jars = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
            if os.path.isdir(jars):
                return jars
    log("set SPARK_HOME or put a Spark install's bin directory on the PATH")
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "main", "**", "*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building program + benchmark with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                       cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        log("build failed")
        sys.exit(3)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def run_jvm(args, work, out, trace_out):
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] + [
        "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--trace-out", trace_out,
        "--data", os.path.join(BENCH, "data", "sf0.1"),
        "--expected", os.path.join(BENCH, "expected", "suites_sf0.1.json"),
        "--write-expected", str(args.write_expected)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s and was killed")
            return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["epss_store", "suite_floor", "suite_kernels"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-expected", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        log(f"program sources not found under {PROGRAM_SRC}")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    try:
        rc = run_jvm(args, work, out, trace_out)
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            log(f"benchmark JVM failed (exit {rc})")
            sys.exit(1)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        # keep the last JVM log of each workload next to the traces
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(
                os.path.dirname(trace_out), f"jvm-{args.workload}.log"))
        shutil.rmtree(work, ignore_errors=True)

    w = res["workload"]
    for m in res["metrics"]:
        print(json.dumps({"workload": w, "metric": m["name"], "value": m["value"],
                          "unit": m["unit"], "samples": m["samples"]}))
    print(json.dumps({"workload": w, "metric": "error_rate", "value": res["error_rate"],
                      "unit": "ratio", "samples": res["attempted"]}))
    for f in res["failures"]:
        print(json.dumps({"workload": w, "failure": f}))
    print(json.dumps({"workload": w, "sizes": res["sizes"], "cores": res["cores"]}))
    print(json.dumps({"workload": w, "spark_conf": res["spark_conf"]}))

    declared = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    got = {m["name"]: m for m in res["metrics"]}
    missing = [n for n in declared if n not in got]
    correct = bool(res["correct"]) and not missing
    if missing:
        log(f"metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: {"value": got[n]["value"], "unit": got[n]["unit"]}
                    for n in declared if n in got}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
