#!/usr/bin/env python3
"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py [--workloads analytics_headline,...]

For each workload of BENCHMARK.json it runs one round at sf 0.001 and
asserts that the result line carries every end-to-end metric of
BENCHMARK.json with its unit and a success_rate of 1.0. It then runs one traced round and checks
every per-layer metric, re-runs a workload with one op's result
deliberately corrupted and asserts that success_rate drops and the exit
code is 1, and finally runs the benchmark in a directory holding only
BENCHMARK.json and perfbench/, where it must fail without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORRUPT = {"analytics_headline": "pricing_summary", "driver_orchestrated": "quantile_two_pass_exact"}
SF = "0.001"


def run(workload: str, trace: int, cwd: str = ROOT, extra: tuple[str, ...] = ()) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--sf", SF, *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return p.returncode, None


def check_metrics(res: dict, specs: list[dict], label: str) -> None:
    got = res["metrics"]
    for spec in specs:
        m = got.get(spec["name"])
        assert m is not None, f"{label}: metric {spec['name']} missing"
        assert m["unit"] == spec["unit"], f"{label}: {spec['name']} unit {m['unit']} != {spec['unit']}"
        assert isinstance(m["value"], (int, float)), f"{label}: {spec['name']} not a number"
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{label}: keys {set(res)}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    listed = [w["name"] for w in bench["workloads"]]
    ap.add_argument("--workloads", default=",".join(listed))
    names = ap.parse_args().workloads.split(",")

    for w in names:
        rc, res = run(w, 0)
        assert rc == 0 and res is not None, f"{w}: exit {rc}"
        check_metrics(res, bench["end_to_end"], w)
        assert res["correct"] and res["metrics"]["success_rate"]["value"] == 1.0, f"{w}: {res}"
        print(f"ok  {w}: end-to-end metrics and units, success_rate 1.0")

    w = listed[-1] if listed[-1] in names else names[-1]
    rc, res = run(w, 1)
    assert rc == 0 and res is not None, f"traced {w}: exit {rc}"
    check_metrics(res, bench["per_layer"], f"traced {w}")
    print(f"ok  {w} traced: per-layer metrics and units")

    rc, res = run(w, 0, extra=("--corrupt", CORRUPT[w]))
    assert rc == 1 and res is not None and not res["correct"], f"corrupt {w}: exit {rc} {res}"
    assert res["metrics"]["success_rate"]["value"] < 1.0 and res["failed"] >= 1, res
    print(f"ok  {w} with {CORRUPT[w]} corrupted: success_rate "
          f"{res['metrics']['success_rate']['value']:.3f}, exit 1")

    bare = os.path.join(ROOT, ".perfbench_selftest")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = run(names[0], 0, cwd=bare)
        assert rc != 0 and res is None, f"bare directory: exit {rc}, result {res}"
        print(f"ok  bare directory: exit {rc}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
