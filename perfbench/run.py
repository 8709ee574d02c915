#!/usr/bin/env python3
"""Benchmark command: one workload, one JSON line of metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload live_ref --seed 1 --seconds 12 --trace 0

Builds the engine (`src/main/scala`) and the harness (`perfbench/scala`)
from source with the Scala compiler shipped in Spark's jars, into
`.bench_build/` (reused while the sources are unchanged). Runs the harness
JVM at local[nproc] in a fresh run directory under `.bench_build/runs/`,
turns its raw record into metrics (`metrics.py`) and prints, as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones.
Exits 1 when an output is wrong, 2 when the benchmark cannot run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("live_ref", "catchup_restart", "batch_mix")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark install at $SPARK_HOME (the engine's build
    reads the same jars)."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if "SPARK_HOME" not in os.environ or not os.path.isdir(jars):
        die("no Spark jars: set SPARK_HOME to a Spark install")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars)
                  if j.endswith(".jar"))


def scala_sources(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile engine + harness once per source content; return the
    classes dir."""
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {ENGINE_SRC}")
    srcs = scala_sources(ENGINE_SRC) + scala_sources(BENCH_SRC)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{digest}")
    if os.path.isfile(os.path.join(out, ".ok")):
        return out, digest
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(jars)
    t = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", tmp, "-nowarn"] + srcs,
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed")
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)
    open(os.path.join(tmp, ".ok"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return out, digest


def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_harness(classes, jars, a, run_dir, timeout_s):
    out = os.path.join(run_dir, "record.json")
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
              f"-Dspark.local.dir={run_dir}/local",
              f"-Djava.io.tmpdir={run_dir}/tmp",
              "-cp", ":".join([classes] + jars), "perfbench.Harness",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--run-dir", run_dir, "--bench-dir", HERE, "--out", out])
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         cwd=run_dir, start_new_session=True)
    try:
        rc = p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"harness timed out after {timeout_s} s")
    finally:
        # the generator and anything else the JVM started
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if rc != 0 or not os.path.isfile(out):
        die(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    jars = spark_jars()
    classes, digest = build(jars)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        remaining = RUN_TIMEOUT_S - (time.time() - t_start)
        rec = run_harness(classes, jars, a, run_dir, max(remaining, 120))
        rec["env"].update({"git_sha": git_sha(), "source_sha256": digest})
        result, detail = metrics.summarize(a.workload, rec, run_dir,
                                           bool(a.trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True), file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
