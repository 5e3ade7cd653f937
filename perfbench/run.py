#!/usr/bin/env python3
"""Graphouse benchmark: builds the benchmark and the library from source
(once per checkout), then runs one workload and prints its report; the
last stdout line is the JSON result.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Everything it writes stays under
perfbench/ (build output, the run's store, traced spans).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORKLOADS = ("ingest", "dashboard")

# Spark on JDK 17 needs these outside spark-submit (the root build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources_newer_than(path):
    """True when a source or build file changed after `path` was written."""
    stamp = os.path.getmtime(path)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            if any(os.path.getmtime(os.path.join(d, f)) > stamp for f in files):
                return True
    builds = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    return any(os.path.getmtime(b) > stamp for b in builds)


def build():
    if os.path.exists(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return
    print("building the library and the benchmark", file=sys.stderr)
    run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], cwd=BENCH,
              timeout=850, stdout=sys.stderr)


def run_child(cmd, cwd, timeout, stdout=None):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it. Returns the captured stdout when stdout is None."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout or subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("%s: timed out after %d s" % (cmd[0], timeout))
    if proc.returncode != 0:
        sys.exit("%s exited with %d" % (cmd[0], proc.returncode))
    return out


def java(main, args, work):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + work,
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + ADD_OPENS + ["-cp", cp, main] + args)
    return run_child(cmd, cwd=ROOT, timeout=170)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src", "main")):
        sys.exit("run.py must run from a checkout of the repository: no library sources next to perfbench/")
    build()
    work = os.path.join(BENCH, ".work", "run-%d" % os.getpid())
    os.makedirs(work)
    try:
        if a.selftest:
            sys.stdout.write(java("graftbench.SelfTest", [], work))
            return
        out = java("graftbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                                       "--work", work], work)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            results = os.path.join(BENCH, ".results")
            os.makedirs(results, exist_ok=True)
            shutil.move(spans, os.path.join(results, "%s-seed%d.spans.jsonl" % (a.workload, a.seed)))
        sys.stdout.write(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
