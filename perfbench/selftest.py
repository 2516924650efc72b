#!/usr/bin/env python3
"""Smoke self-test of the benchmark, at small scale.

For every workload in BENCHMARK.json: an untraced run must pass its checks
and print every end-to-end metric with its unit; a traced run must print
every per-layer metric with its unit; a run whose checked result is
deliberately falsified (`--corrupt 1`) must count the operation as failed.

Usage: python3 perfbench/selftest.py      (exits non-zero on the first failure)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = {"etl_dashboards": "0.001", "ingest_operators": "0.001"}


def run(workload, trace, corrupt=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "3", "--trace", str(trace), "--sf", SCALE[workload],
           "--corrupt", str(corrupt)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}: {p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect_metrics(result, specs, what):
    for m in specs:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{what}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{what}: {m['name']} not a number"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        name = w["name"]
        r = run(name, 0)
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, f"{name}: {r}"
        expect_metrics(r, spec["end_to_end"], name)
        r = run(name, 1)
        assert r["correct"], f"{name} traced: {r}"
        expect_metrics(r, spec["per_layer"], f"{name} traced")
        r = run(name, 0, corrupt=1)
        assert r["failed"] >= 1 and not r["correct"], f"{name}: corrupted result not caught: {r}"
        print(f"ok {name}", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
