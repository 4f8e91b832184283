#!/usr/bin/env python3
"""Smoke-size self-test of the benchmark, run from the root of a graft checkout:

    python3 graftbench/selftest.py [workload ...]

Runs every workload of BENCHMARK.json (or the named ones) on a few hundred
documents, once untraced and once traced, through run.py. Asserts that each run's last line
is the result object, that every metric BENCHMARK.json names for the mode is
emitted with its unit, that the output checks ran and passed with no failed
call, and that a seed's result digest (serve_read) and kept-row counts
(curate_batch) are identical across the two runs.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SMOKE_DOCS = {"serve_read": 300, "curate_batch": 400}
# lines whose payload must repeat across runs of one seed
REPEATS = {"serve_read": "DIGEST", "curate_batch": "KEPT"}


def run(workload, trace, seed=7):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "3", "--trace", str(trace),
           "--docs", str(SMOKE_DOCS[workload]), "--setups", "1"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stdout}"
    return proc.stdout.rstrip("\n").split("\n")


def check_run(workload, trace, lines, spec):
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True, f"{workload}: correct is false\n" + "\n".join(lines)
    assert result["failed"] == 0 and result["attempted"] >= 1, result
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload}: metric names/units differ: {set(got.items()) ^ set(want.items())}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), (name, m)
        if not trace:
            assert m["value"] > 0, f"{workload}: end-to-end metric {name} is {m['value']}"
    checks = [l for l in lines if l.startswith("CHECK ")]
    assert checks, f"{workload}: no output check ran"
    assert all(l.split()[2] == "ok" for l in checks), checks
    return [l for l in lines if l.startswith(REPEATS.get(workload, "-"))]


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        repeated = [check_run(w, t, run(w, t), spec) for t in (0, 1)]
        assert repeated[0] == repeated[1], f"{w}: not identical across runs: {repeated}"
        print(f"selftest {w}: ok {repeated[0]}")


if __name__ == "__main__":
    main()
