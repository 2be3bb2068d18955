#!/usr/bin/env python
"""Fresh-process driver-contract sweep: run EVERY registered query at
$SPARK_GRAFT_SF_DIR (default sf0.01); oracle-bearing names get the full
DuckDB comparison (row count + schema + value hash — tests/oracle.py, the
local mirror of the driver's t2 gate), rows-only names must return >0 rows.
One line per query; non-zero exit on any failure, and on any name
argument that matches no registered query.

Used by the optimization rounds as the fast whole-registry greenness gate
(the full pytest suite re-verifies operator internals; this verifies the
driver contract end-to-end)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_deep_learning_with_apache_spark_spark.registry import load_all
from distributed_deep_learning_with_apache_spark_spark.session import get_spark
from tests.oracle import compare, duck_connect


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = sys.argv[1:]  # optional: query names to restrict to
    reg = load_all()
    unknown = [n for n in only if n not in reg]
    if unknown:
        # a mistyped list must not pass as "0/0 green"
        print("unknown query names: " + " ".join(unknown), flush=True)
        raise SystemExit(2)
    spark = get_spark("sweep_all")
    con = duck_connect(sf_dir)
    names = [n for n in reg if not only or n in only]
    failures = []
    t_all = time.perf_counter()
    for i, name in enumerate(names):
        q = reg[name]
        t0 = time.perf_counter()
        try:
            df = q.fn(spark, sf_dir)
            if q.oracle is not None:
                ok, msg = compare(df, con, q.oracle)
            else:
                ok, msg = df.count() > 0, "rows-only"
        except Exception as exc:  # noqa: BLE001 (sweep must report, not die)
            ok, msg = False, f"EXC {type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        status = "ok" if ok else "FAIL"
        print(f"[{i + 1}/{len(names)}] {status:4s} {dt:7.2f}s {name}"
              + ("" if ok else f"  -- {msg}"), flush=True)
        if not ok:
            failures.append((name, msg))
    print(f"sweep: {len(names) - len(failures)}/{len(names)} green "
          f"in {time.perf_counter() - t_all:.1f}s", flush=True)
    if failures:
        for n, m in failures:
            print(f"FAILED: {n}: {m}", flush=True)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
