#!/usr/bin/env python3
"""The benchmark's own tests, run from the repository root:

    python3 perfbench/smoke_test.py

Runs every workload at smoke size (those of BENCHMARK.json and the ones run
by hand), untraced and traced, and checks that each run exits 0 and ends
with a correct result line that carries exactly the declared metrics with
their units. Then checks that the
benchmark refuses to run, without a result line, in a directory that holds
only BENCHMARK.json and the benchmark's own files.
"""

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import WORKLOADS  # noqa: E402


def run(cwd, workload, trace, seed=7):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", trace, "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


def check_result(bench, workload, trace, p):
    where = f"{workload} --trace {trace}"
    assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {set(result)}"
    assert result["correct"] is True and result["failed"] == 0, f"{where}: {result}"
    assert result["attempted"] >= 1, f"{where}: {result}"
    declared = bench["end_to_end"] if trace == "0" else bench["per_layer"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{where}: metrics {got} != declared {want}"
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), f"{where}: {name}"
        if trace == "0":
            assert v["value"] > 0, f"{where}: end-to-end metric {name} is {v['value']}"


def check_refuses_without_sources(bench):
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(d, path),
                            ignore=shutil.ignore_patterns("target", "project/project"))
        p = run(d, bench["workloads"][0]["name"], "0")
        assert p.returncode != 0, "ran without the library sources"
        assert '"correct"' not in p.stdout, "printed a result without the library sources"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    for w in WORKLOADS:
        for trace in ("0", "1"):
            check_result(bench, w, trace, run(ROOT, w, trace))
            print(f"ok {w} --trace {trace}")
    check_refuses_without_sources(bench)
    print("ok refuses to run without the library sources")


if __name__ == "__main__":
    main()
