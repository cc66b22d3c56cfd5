#!/usr/bin/env python3
"""Build file of the crawl benchmark.

Compiles the engine (src/main/scala) together with the benchmark's own
sources (perfbench/src) into <build dir>/classes with the Scala compiler
that ships in the Spark jar directory the repo's build.sbt names
(`unmanagedBase`). No sbt, no network, nothing written outside the build
dir. A content stamp over every source file skips the compile when
nothing changed.

    python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The jar directory the repo's own build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise SystemExit("perfbench: no build.sbt at the checkout root")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jar directory {jars!r} not found")
    return jars


def sources():
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(ROOT, top)
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: source directory {top} missing")
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def classpath(jars, classes):
    return classes + os.pathsep + os.path.join(jars, "*")


def build():
    """Compile if needed; returns (classes dir, jar dir)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if (os.path.isdir(classes) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (rc={r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    if len(sys.argv) > 1:
        os.environ["CARGO_TARGET_DIR"] = sys.argv[1]
    print(build()[0])
