"""Smoke self-test of the benchmark at tiny input size.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, and asserts that each
metric named in BENCHMARK.json prints with its unit and that every op
passed. Then feeds one deliberately corrupted output row to the reference
check and asserts that the op counts as failed, so the check is not
vacuous.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SCALE = "0.2"


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, specs: list[dict], where: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, where
    for m in specs:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{where}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{where}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {m['name']} = {got['value']!r}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, specs in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            where = f"{w['name']} trace={trace}"
            res = run(w["name"], trace)
            check_metrics(res, specs, where)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{where}: {res}"
            print(f"ok  {where}: {res['attempted']} ops")
    res = run(spec["workloads"][0]["name"], 0, "--corrupt")
    assert not res["correct"] and res["failed"] == res["attempted"] >= 1, f"corrupted output passed: {res}"
    print("ok  corrupted output counted as failed ops")
    return 0


if __name__ == "__main__":
    sys.exit(main())
