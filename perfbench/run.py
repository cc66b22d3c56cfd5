#!/usr/bin/env python3
"""Crawl benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload fresh-crawl --seed 42 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
then runs one workload in one fresh JVM. The JVM prints the result JSON
as the last line of stdout; this wrapper adds nothing to stdout, so a
failed build or a killed JVM prints no result and exits non-zero.
Every temporary store lives under the build dir and is removed here.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fresh-crawl", "read-ingest")
HEAP = "3g"
# a run must end within 180 s; the JVM gets what the build left of that
RUN_LIMIT_S = 175
# Spark on JDK 17 outside spark-submit (the repo's build.sbt passes the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
    # the benchmark reads the JIT compiler threads' CPU time from here
    "java.management/sun.management",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.monotonic()
    classes, jars = build.build()
    work = os.path.join(build.build_dir(), "tmp", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spans = os.path.join(build.build_dir(), "spans")
    os.makedirs(spans, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            # a fixed set of JIT threads, so none exits with its CPU time
            "-XX:-UseDynamicNumberOfCompilerThreads", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work}",
            f"-Dperfbench.spans={spans}",
            "-cp", build.classpath(jars, classes), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
    # its own process group, so a timeout kills the whole tree
    p = subprocess.Popen(cmd, start_new_session=True)
    try:
        rc = p.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        rc = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
