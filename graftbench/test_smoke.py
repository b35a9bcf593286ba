#!/usr/bin/env python3
"""Self-test of the benchmark: every workload, briefly, on the smoke corpus.

    python3 graftbench/test_smoke.py

For each workload it runs run.py --smoke untraced and traced and asserts
that the result line carries exactly the metrics BENCHMARK.json declares,
each finite and in its declared unit; that output checks ran and all
passed, the known /embed freshness defect aside (tallied apart); and that every
declared per-layer metric is measured by at least one workload. Last, it
runs the benchmark in a directory holding only BENCHMARK.json and the
benchmark's files, where it must fail without printing a result.
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a program defect the benchmark reports; see NOTES.md
KNOWN_FAILING = {"embed_freshness"}


def run(workload, trace, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "graftbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "4", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, [l for l in p.stdout.splitlines() if l.strip()], p.stderr


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    unmeasured = set(declared[1])
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            rc, lines, err = run(w, trace)
            assert rc == 0, f"{w} trace={trace} exited {rc}:\n{err[-3000:]}"
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            got = result["metrics"]
            assert set(got) == set(declared[trace]), set(got) ^ set(declared[trace])
            for name, m in got.items():
                assert m["unit"] == declared[trace][name], (name, m)
                assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (name, m)
                if trace == 0:
                    assert m["value"] != 0, f"{w}: end-to-end metric {name} is 0"
            assert result["attempted"] > 0, f"{w}: no output checks ran"
            record = json.loads(next(l for l in lines if l.startswith("RUN_RECORD "))[11:])
            assert result["correct"] and result["failed"] == 0 and not record["failed_checks"], \
                f"{w}: checks failed: {record['failed_checks']}"
            known = record["known_defect_checks"]["failed"]
            assert set(known) <= KNOWN_FAILING, f"{w}: known-defect checks: {known}"
            if w == "serve_write":
                assert record["known_defect_checks"]["attempted"] > 0, "the /embed check did not run"
            if trace == 1:
                skipped = json.loads(next(l for l in lines if l.startswith("UNMEASURED "))[11:])
                unmeasured &= set(skipped)
            print(f"ok {w} trace={trace}: {result['attempted']} checks, "
                  f"known defects failed {known or 'none'}", flush=True)
    assert not unmeasured, f"per-layer metrics no workload measures: {sorted(unmeasured)}"

    bare = os.path.join(ROOT, ".bench_build", "graftbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, lines, _ = run("curate", 0, cwd=bare)
        assert rc != 0, "the benchmark ran without graft's sources"
        assert not any(l.startswith("{") for l in lines), "a result was printed without sources"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok: fails without graft's sources")


if __name__ == "__main__":
    main()
