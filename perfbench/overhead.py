#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced with the same
seed and print, per end-to-end metric, the traced value relative to the
untraced one (a traced run still records its end-to-end numbers in the
artifact line). Run from the root of a checkout:

    python3 perfbench/overhead.py --workload analytics_headline --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def end_to_end(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-2])["artifact"]["end_to_end"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    a = ap.parse_args()
    off = end_to_end(a.workload, a.seed, a.seconds, 0)
    on = end_to_end(a.workload, a.seed, a.seconds, 1)
    print(json.dumps({
        k: {"untraced": off[k], "traced": on[k], "traced_over_untraced": on[k] / off[k] - 1.0}
        for k in off
    }, indent=1))


if __name__ == "__main__":
    main()
