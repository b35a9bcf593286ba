#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 graftbench/run.py --workload serve_write --seed 1 --seconds 12 --trace 0

Builds graft and the benchmark program from source when stale (see
build.py), then runs it in one JVM on local[4]. Everything it
writes stays under .bench_build/graftbench in the checkout; the run's
scratch directory is removed when the JVM exits. The last stdout line
is the result object; --trace 1 also writes the run's spans to
.bench_build/graftbench/traces/. --smoke runs on the smallest corpus
(see test_smoke.py).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve_write", "curate")
# a run must end within this many seconds of the build finishing
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 outside spark-submit: the same module opens the
# repo's build.sbt passes to forked runs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--mode", default="bench", choices=("bench", "count_ab", "record"))
    a = p.parse_args()

    classpath = build.ensure()
    root = build.out_root()
    # a record run keeps its corpus for checking against the DuckDB oracle
    keep = a.mode == "record"
    name = f"record-{'smoke' if a.smoke else 'full'}" if keep else f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.abspath(os.path.join(root, "work", name))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    here = os.path.dirname(os.path.abspath(__file__))
    # no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
        "-cp", classpath, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--mode", a.mode,
        "--spec", os.path.join(build.ROOT, "BENCHMARK.json"),
        "--expected", os.path.join(here, "expected_curate.json"),
        "--trace-out", os.path.abspath(os.path.join(
            root, "traces", f"{a.workload}-{a.seed}.jsonl")),
    ] + (["--smoke"] if a.smoke else [])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    # a hung JVM is killed, with its children, at the limit
    watchdog = threading.Timer(RUN_LIMIT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or (a.mode == "bench" and not last.startswith("{\"correct\"")):
        print(f"run: the benchmark JVM exited with {rc} and no result", file=sys.stderr)
        sys.exit(1)

if __name__ == "__main__":
    main()
