#!/usr/bin/env python3
"""Benchmark entry point for the FHIR pipeline, the ADT feed and the
LLM-corpus operators.

    python3 perfbench/run.py --workload fhir_etl --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the
benchmark's own Scala sources with sbt (once per checkout, into
``target/`` and ``perfbench/target/``; the classpath goes to
``.bench_build/``), then starts one JVM that generates the workload's
inputs from the seed, runs one cold pass, warm-up passes and timed warm
passes, checks every output, and prints the result. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).

Every run gets its own directory under ``.bench_build/runs/`` for inputs,
warehouse, Spark scratch space and outputs; it is deleted when the run
ends. A traced run keeps its spans in ``.bench_build/traces/``.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("fhir_etl", "adt_feed", "llm_corpus")
BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
# sources whose change makes the cached build stale
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                BENCH_DIR + "/build.sbt", BENCH_DIR + "/project/build.properties",
                BENCH_DIR + "/src")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for root, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    return newest


def build(root):
    """Compile the program and the benchmark; return the run classpath."""
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    inputs = [os.path.join(root, p) for p in BUILD_INPUTS]
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_mtime(inputs):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""),
        "-Dsbt.server.autostart=false", "-Dsbt.offline=true", "-Xmx2g"]).strip()
    log_path = os.path.join(root, BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, BENCH_DIR), env=env, stdout=subprocess.PIPE,
            stderr=log, stdin=subprocess.DEVNULL, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(proc)
            fail("build timed out; see " + log_path)
        log.write(out)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail("build failed (exit %d); see %s" % (proc.returncode, log_path))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    return cp


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    for needed in ("build.sbt", "src/main/scala/graft",
                   BENCH_DIR + "/build.sbt", BENCH_DIR + "/src"):
        if not os.path.exists(os.path.join(root, needed)):
            fail("run from the repository root: %s is missing" % needed)

    classpath = build(root)

    run_dir = os.path.join(root, BUILD_DIR, "runs",
                           "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_dir = os.path.join(root, BUILD_DIR, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false"]
           + [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--run-dir", run_dir,
              "--trace-dir", trace_dir])
    log_path = os.path.join(root, BUILD_DIR, "last-run.log")
    result = None
    try:
        with open(log_path, "w") as log:
            # the JVM's set-up time is counted from here: CLOCK_MONOTONIC is
            # the clock System.nanoTime reads on Linux
            cmd += ["--start-ns", str(time.monotonic_ns())]
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                kill_group(proc)
                fail("run timed out after %d s; see %s" % (RUN_TIMEOUT_S, log_path))
            except BaseException:
                kill_group(proc)
                raise
        for line in out.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif line.strip():
                print(line, file=sys.stderr)
        if proc.returncode != 0 or result is None:
            fail("benchmark JVM exited with %d; see %s" % (proc.returncode, log_path))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
