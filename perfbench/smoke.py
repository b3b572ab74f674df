#!/usr/bin/env python3
"""Tiny-size smoke check of the benchmark.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at ``--size tiny``, untraced and
traced, and asserts that each run exits 0, reports correct output, and emits
exactly the declared metrics with their declared units.  Then copies only
BENCHMARK.json and the benchmark directory into a scratch directory inside
the checkout and asserts that the benchmark fails there (non-zero exit, no
result line) because the program is missing.  Takes about five minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, workload: str, trace: int, size: str = "tiny") -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "5", "--trace", str(trace), "--size", size],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(ROOT, w["name"], trace)
            assert p.returncode == 0, f"{w['name']} trace={trace}: exit {p.returncode}\n{p.stderr[-4000:]}"
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: {sorted(set(got) ^ set(want))}"
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (k, v)
            print(f"ok  {w['name']:16s} trace={trace}  {len(got)} metrics")

    bare = os.path.join(ROOT, ".bench_run", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for d in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, d), os.path.join(bare, d),
                        ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = _run(bare, bench["workloads"][0]["name"], 0, size="full")
        assert p.returncode != 0, "benchmark succeeded without the program"
        assert '"metrics"' not in p.stdout, "benchmark printed a result without the program"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  fails without the program")
    return 0


if __name__ == "__main__":
    sys.exit(main())
