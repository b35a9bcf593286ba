#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's own sources (src/main/scala) together with the
benchmark program (graftbench/src) in one scalac pass, against the Spark
distribution's jars, the same jars the repo's build.sbt compiles
against. Spark ships the Scala compiler, so no build tool is needed.

Output goes under $CARGO_TARGET_DIR/graftbench (default
.bench_build/graftbench), relative to the checkout root. A build is skipped when a
hash over every source file matches the last successful build.

    python3 graftbench/build.py        # build if stale, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

# the checkout root: graft's sources and the build output are found from here
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_ROOTS = ["src/main/scala", "graftbench/src"]


def out_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "graftbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for rel in SOURCE_ROOTS:
        root = os.path.join(ROOT, rel)
        if not os.path.isdir(root):
            raise SystemExit(f"build: source directory {rel} is missing "
                             "(graftbench must sit in a graft checkout)")
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def ensure():
    """Build if stale; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = out_root()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classpath
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    rc = subprocess.call(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files,
        stdout=sys.stderr)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with exit code {rc}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classpath


if __name__ == "__main__":
    print(ensure())
