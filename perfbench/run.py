#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. Builds the engine plus the benchmark
JVM program (perfbench/build.sbt) into .bench_build/ when the sources
changed, runs one workload in one JVM on local[4], checks its outputs and
prints a summary and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Exits 1 when an
output check fails, 2 when it cannot build or run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import report  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cdc_live", "curate", "index_mixed", "backfill")
RUN_LIMIT_S = 150
# A fixed 3 GB heap with the throughput collector: the heap never resizes
# mid-run, and on 4 cores curate runs were faster with it than with G1.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def spark_home():
    """$SPARK_HOME, else the Spark install whose bin/ is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    log("no Spark install found: set SPARK_HOME")
    sys.exit(2)


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building the engine and the benchmark (sbt, offline)")
    # offline build settings, unless the environment sets its own
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], 850,
                       cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        log(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
        sys.exit(2)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}/src/main/scala/graft: run from a graft source tree")
        sys.exit(2)
    classpath = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw_file = os.path.join(work, "raw.json")
        log_file = os.path.join(BUILD, f"{a.workload}.log")
        t0 = time.time()
        with open(log_file, "w") as out:
            rc = run_group(["java", *JVM_OPTS, "-cp", classpath, "perfbench.Main",
                            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--work", os.path.join(work, "data"), "--out", raw_file],
                           RUN_LIMIT_S, cwd=work, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(raw_file):
            log(f"benchmark JVM failed (exit {rc}) after {time.time() - t0:.1f}s; see {log_file}")
            sys.exit(2)
        with open(raw_file) as f:
            raw = json.load(f)
        result, summary = report.build(a.workload, raw, bool(a.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in summary:
        print(line)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
