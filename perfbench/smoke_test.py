"""Smoke test: every workload once at smoke size, plus one traced run.

    python3 perfbench/smoke_test.py      (or: python -m pytest perfbench/smoke_test.py)

Asserts that each run exits 0, that every op passed its check, and that
the metric names and units are exactly those BENCHMARK.json declares
(end_to_end for plain runs, per_layer for the traced run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def _check(result: dict, declared: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == declared, (sorted(set(got) ^ set(declared)), got)
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_smoke() -> None:
    from run import WORKLOADS

    end_to_end = _declared("end_to_end")
    for workload in WORKLOADS:
        _check(_run(workload, 0), end_to_end)
    _check(_run("geo", 1), _declared("per_layer"))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    test_smoke()
    print("smoke test passed")
