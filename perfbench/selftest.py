#!/usr/bin/env python3
"""Self-test of the benchmark harness, at tiny scale.

Usage, from the root of a checkout:

    python3 perfbench/selftest.py

For every workload it makes one untraced and one traced smoke run and
checks the shape of the result line against BENCHMARK.json: exactly the
keys correct/attempted/failed/metrics, every end-to-end metric untraced,
every per-layer metric traced, each with its unit, and no failed check.
A negative case then corrupts one checked triple on purpose and expects
the run to report it as a failed op.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = "3"


def run(workload, trace, corrupt=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", SECONDS, "--trace", str(trace),
           "--scale", "tiny", "--corrupt", str(corrupt)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit code {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def check_shape(result, spec):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, sorted(result)
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    assert set(got) == set(want), f"metrics {sorted(got)} != {sorted(want)}"
    for name, m in got.items():
        assert set(m) == {"value", "unit"}, (name, m)
        assert m["unit"] == want[name], (name, m["unit"], want[name])
        assert isinstance(m["value"], (int, float)), (name, m["value"])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, spec in [(0, bench["end_to_end"]), (1, bench["per_layer"])]:
            try:
                report, result = run(w, trace)
                check_shape(result, spec)
                assert result["correct"] and result["failed"] == 0, result
                assert any(line.startswith("metric error_rate") for line in report), report
                print(f"ok   {w} trace={trace}: {result['attempted']} ops")
            except Exception as e:  # report every case, then fail once
                failures.append(f"{w} trace={trace}: {e}")
                print(f"FAIL {w} trace={trace}: {e}")
    for w in ["cofactor_scan", "star_refresh"]:
        try:
            _, result = run(w, 0, corrupt=1)
            check_shape(result, bench["end_to_end"])
            assert not result["correct"] and result["failed"] >= 1, result
            print(f"ok   {w} corrupted triple: {result['failed']} of {result['attempted']} ops failed")
        except Exception as e:
            failures.append(f"{w} corrupted triple: {e}")
            print(f"FAIL {w} corrupted triple: {e}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
