#!/usr/bin/env python3
"""spark-graft benchmark: one closed-loop client against local[nproc].

    python3 perfbench/run.py --workload analytics_headline --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout. Each run:

1. builds, once per checkout, the input tables (fixed data seed) and every
   engine fixture cache under ``.perfbench_build/`` (a separate process
   that runs every op once); later runs reuse them;
2. copies the built caches into ``.perfbench_work/``, which it creates
   empty and removes at exit, and redirects every engine cache and temp
   dir there, so every run starts with all caches built and unshared;
3. sets up: SparkSession, registry import, then one warm pass over every
   op of the workload (``setup_s`` is this phase);
4. checks the warm results, outside any timed region: oracle-bearing ops
   against the DuckDB answer digested at build time, ML fits against their
   loss check; each op's digest becomes its reference;
5. runs whole rounds of the workload, as many as fit ``--seconds`` at the
   workload's nominal round time (so a run's round count never depends on
   how fast the host happens to be), each in an order shuffled by
   ``--seed``; every op fully materializes its result and must reproduce
   its reference digest (fits: their exact losses). Latencies are reduced
   to one median per op.

The last stdout line is the result JSON. With ``--trace 0`` it carries the
end-to-end metrics, with ``--trace 1`` the per-layer ones. The line before
it is an artifact with the run's context (loadavg, nproc, driver heap,
seed, per-op latencies). The exit code is 1 when any check failed and 2
when the engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import datagen  # noqa: E402
import sandbox  # noqa: E402
import telemetry  # noqa: E402
import workloads as W  # noqa: E402

DATA_SEED = 42
SF = 0.01
DRIVER_MEM = "4g"
CACHE_STATE = (
    "all engine caches built at process start: a per-run copy of the caches "
    "that the one-time build made by running every op once"
)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: steal is time the host gave this
    machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tail_latency(lat: list[float]) -> tuple[float | None, float | None, int]:
    """Highest percentile with at least 10 samples beyond it: the 11th
    largest latency. Returns (value, percentile, samples); value and
    percentile are None with fewer than 20 samples, where that percentile
    would lie below the median."""
    s = sorted(lat)
    n = len(s)
    if n < 20:
        return None, None, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def build_dir(sf: float) -> str:
    return os.path.join(ROOT, ".perfbench_build", f"sf{sf}-data{DATA_SEED}")


def ensure_built(sf: float) -> float:
    """Build the tables and caches for ``sf`` unless this checkout has them;
    returns the seconds spent building (0 when reused)."""
    if os.path.exists(os.path.join(build_dir(sf), "built.json")):
        return 0.0
    t = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build", "--sf", str(sf)],
        check=True, timeout=900, stdout=sys.stderr,
    )
    return time.perf_counter() - t


def build(sf: float) -> int:
    """Generate the tables, run every registered query of every workload
    once with the engine's caches redirected into the build dir, which
    fills them, and record the digest of each DuckDB oracle's answer."""
    import verify

    base = build_dir(sf)
    shutil.rmtree(base, ignore_errors=True)
    work = os.path.join(base, "work")
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    sandbox.prepare_env(work, cpus, DRIVER_MEM)
    table_rows = datagen.generate(os.path.join(base, "data"), sf, DATA_SEED)
    from distributed_deep_learning_with_apache_spark_spark.registry import load_all
    from distributed_deep_learning_with_apache_spark_spark.session import get_spark

    data = os.path.join(base, "data")
    queries = {}
    spark = get_spark("perfbench-build", cpus=str(cpus))
    try:
        registry = load_all()
        sandbox.redirect_caches(os.path.join(base, "cache"))
        ctx = W.Ctx(spark, data, work, DATA_SEED, registry)
        for w in W.WORKLOADS:
            for unit in W.units(w, registry):
                for op in unit:
                    if isinstance(op, W.RegisteredQuery):  # the others use private roots
                        op.execute(ctx, op.build(ctx))
                        queries[op.name] = op.oracle
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    oracle = verify.Oracle(data)
    try:
        digests = {n: verify.digest(*oracle.rows(sql)) for n, sql in sorted(queries.items()) if sql}
    finally:
        oracle.close()
    os.makedirs(os.path.join(base, "cache"), exist_ok=True)
    with open(os.path.join(base, "built.json"), "w") as f:
        json.dump({"sf": sf, "data_seed": DATA_SEED, "table_rows": table_rows,
                   "caches": sorted(os.listdir(os.path.join(base, "cache"))),
                   "oracle_digests": digests}, f)
    return 0


class Runner:
    def __init__(self, args) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.spans = telemetry.Spans()
        self.records: list[dict] = []
        self.refs: dict[str, str] = {}
        self.failed_ops: dict[str, str] = {}
        self.op_seq = 0

    # -- one op -----------------------------------------------------------
    def run_op(self, ctx, op, round_no: int, warm: bool) -> dict:
        from pyspark.sql import DataFrame

        from distributed_deep_learning_with_apache_spark_spark.plans.checks import physical_plan

        self.op_seq += 1
        group = f"perfbench-{self.op_seq}-{op.name}"
        rec = {"op": op.name, "op_id": self.op_seq, "kind": op.kind, "round": round_no,
               "warm": warm, "ok": False}
        sc = ctx.spark.sparkContext
        if self.trace:
            self.spans.op_id = self.op_seq
            p0 = self.tree.snapshot()
            j0 = self.counters.job_count()
        sc.setJobGroup(group, op.name, False)
        t0 = time.perf_counter()
        sid = self.spans.open(op.name)
        cols = rows = None
        try:
            s = self.spans.open("op.build")
            built = op.build(ctx)
            rec["build_s"] = self.spans.close(s)
            rec["plan_s"] = 0.0
            if self.trace and isinstance(built, DataFrame):
                s = self.spans.open("plans.physical_plan")
                physical_plan(built)
                rec["plan_s"] = self.spans.close(s)
            s = self.spans.open("op.exec")
            cols, rows = op.execute(ctx, built)
            rec["exec_s"] = self.spans.close(s)
        except Exception as exc:  # an op that raises is a failed op
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            self.spans.close(sid)
            rec["latency_s"] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.op_id = None
        if self.trace:
            self.counters.drain()
            rec["spark"] = self.counters.collect(group, j0, self.counters.job_count())
            rec["storage_held_bytes"] = self.counters.storage_held_bytes()
            p1 = self.tree.snapshot()
            rec["proc_cpu_s"] = {k: p1[k][0] - p0[k][0] for k in p1}
            rec["stream"] = self.listener.take()
        if rows is not None:
            if op.name == self.args.corrupt and not warm:
                rows = rows[:-1] if len(rows) > 1 else [tuple("corrupt" for _ in cols)]
            rec["rows"] = len(rows)
            import verify

            rec["digest"] = verify.digest(cols, rows)
            if op.kind == "fit":
                rec["final_loss"] = float(rows[-1][1])
            why = op.check(cols, rows)
            if warm:
                rec["result"] = (cols, rows)
                if why is None:
                    self.refs[op.name] = rec["digest"]
                    rec["ok"] = True
                else:
                    self.failed_ops[op.name] = why
            elif why is not None:
                rec["error"] = why
            elif self.refs.get(op.name) != rec["digest"]:
                rec["error"] = "digest differs from the verified result"
            else:
                rec["ok"] = True
        elif warm:
            self.failed_ops[op.name] = rec.get("error", "no result")
        self.records.append(rec)
        return rec

    # -- phases -----------------------------------------------------------
    def rounds(self, ctx, unit_list, round_no: int, warm: bool) -> None:
        """One pass over every op. The warm pass keeps the listed order, so
        every run's set-up (and the JIT state it leaves) is the same; timed
        rounds run in an order shuffled by the seed."""
        order = list(unit_list)
        if not warm:
            random.Random(self.args.seed * 1000 + round_no).shuffle(order)
        for unit in order:
            for op in unit:
                self.run_op(ctx, op, round_no, warm)

    def verify_warm(self, data_dir: str, oracle_digests: dict[str, str]) -> None:
        """Check the warm pass's results (untimed) against the DuckDB
        oracles' answers, digested once per build; on a mismatch, query
        DuckDB again for the reason. Then drop the results."""
        oracle = None
        try:
            for rec in self.records:
                if not rec["warm"] or "result" not in rec:
                    continue
                cols, rows = rec.pop("result")
                sql = self.op_oracle.get(rec["op"])
                if sql is None or rec["op"] not in self.refs:
                    continue
                if rec["digest"] == oracle_digests.get(rec["op"]):
                    rec["oracle"] = "match"
                    continue
                import verify

                oracle = oracle or verify.Oracle(data_dir)
                why = oracle.check(sql, cols, rows) or "digest differs from the oracle's"
                rec["oracle"] = why
                self.failed_ops[rec["op"]] = f"oracle: {why}"
                self.refs.pop(rec["op"], None)
        finally:
            if oracle is not None:
                oracle.close()

    def main(self) -> int:
        a = self.args
        pkg = os.path.join(ROOT, sandbox.PACKAGE, "__init__.py")
        if not os.path.exists(pkg):
            print(f"perfbench: engine package not found at {pkg}", file=sys.stderr)
            return 2
        build_s = ensure_built(a.sf)
        base = build_dir(a.sf)
        with open(os.path.join(base, "built.json")) as f:
            built = json.load(f)
        work = os.path.join(ROOT, ".perfbench_work")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        shutil.copytree(os.path.join(base, "cache"), os.path.join(work, "cache"))
        cpus = len(os.sched_getaffinity(0))
        sandbox.prepare_env(work, cpus, DRIVER_MEM)
        load_start = os.getloadavg()
        steal_start = _cpu_ticks()
        data_dir = os.path.join(base, "data")

        self.tree = telemetry.ProcTree()
        rss = telemetry.PeakRss(self.tree).start()
        spark = None
        try:
            # ---- set-up: session, registry, warm pass (setup_s) ----------
            t_setup = time.perf_counter()
            s = self.spans.open("session.get_spark")
            from distributed_deep_learning_with_apache_spark_spark.session import get_spark

            spark = get_spark("perfbench", cpus=str(cpus))
            session_s = self.spans.close(s)
            s = self.spans.open("registry.load_all")
            from distributed_deep_learning_with_apache_spark_spark.registry import load_all

            registry = load_all()
            registry_s = self.spans.close(s)
            redirected = sandbox.redirect_caches(os.path.join(work, "cache"))
            if self.trace:
                self._instrument()
                self.counters = telemetry.SparkCounters(spark)
                self.listener = telemetry.BatchRecorder()
                spark.streams.addListener(self.listener)
            ctx = W.Ctx(spark, data_dir, work, a.seed, registry)
            unit_list = W.units(a.workload, registry)
            self.op_oracle = {op.name: op.oracle for u in unit_list for op in u}
            s = self.spans.open("setup.warm_pass")
            self.rounds(ctx, unit_list, 0, warm=True)
            warm_s = self.spans.close(s)
            setup_s = time.perf_counter() - t_setup

            # ---- checks on the warm results (untimed) ---------------------
            t = time.perf_counter()
            self.verify_warm(data_dir, built["oracle_digests"])
            verify_s = time.perf_counter() - t

            # ---- timed phase: a fixed number of whole rounds --------------
            n_rounds = W.timed_rounds(a.workload, a.seconds)
            t_phase = time.perf_counter()
            for round_no in range(1, n_rounds + 1):
                self.rounds(ctx, unit_list, round_no, warm=False)
            phase_s = time.perf_counter() - t_phase
            rss.sample()
        finally:
            rss.stop()
            _shutdown(spark)
            shutil.rmtree(work, ignore_errors=True)

        timed = [r for r in self.records if not r["warm"]]
        lat = [r["latency_s"] for r in timed]
        ok = [r for r in timed if r["ok"]]
        tail, tail_p, n = tail_latency(lat)
        per_op: dict[str, list[float]] = {}
        for r in timed:
            per_op.setdefault(r["op"], []).append(r["latency_s"])
        op_med = {k: statistics.median(v) for k, v in sorted(per_op.items())}
        success = len(ok) / len(timed)
        e2e = {
            "setup_s": (setup_s, "s"),
            # A median round: every op once, each at its median latency.
            "throughput_qps": (success * len(op_med) / sum(op_med.values()), "1/s"),
            "latency_p50_s": (statistics.median(op_med.values()), "s"),
            "success_rate": (success, "ratio"),
            "peak_rss_mb": (rss.peak_total, "MB"),
        }
        correct = not self.failed_ops and len(ok) == len(timed)
        artifact = {
            "workload": a.workload,
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": a.trace,
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "cpu_steal_share": (_cpu_ticks()[0] - steal_start[0])
            / max(_cpu_ticks()[1] - steal_start[1], 1),
            "sf": a.sf,
            "table_rows": built["table_rows"],
            "cache_state": CACHE_STATE,
            "caches_built": built["caches"],
            "cache_roots_redirected": redirected,
            "build_s": build_s,
            "verify_s": verify_s,
            "timed_phase_s": phase_s,
            "peak_rss_mb_by_process": rss.peak,
            "rounds": n_rounds,
            "samples": n,
            "latency_tail_s": tail,
            "tail_percentile": tail_p,
            "end_to_end": {k: v[0] for k, v in e2e.items()},
            "op_latency_median_s": op_med,
            "op_latency_s": per_op,
            "warm_latency_s": {r["op"]: r["latency_s"] for r in self.records if r["warm"]},
            "oracle": {r["op"]: r["oracle"] for r in self.records if "oracle" in r},
            "failed_ops": self.failed_ops,
            "failed_samples": [
                {"op": r["op"], "round": r["round"], "error": r.get("error")}
                for r in timed
                if not r["ok"]
            ][:20],
        }
        if self.trace:
            metrics = self.layer_metrics(timed, rss, session_s, registry_s, warm_s)
            artifact["spans_file"] = self._write_spans()
            artifact["top_self_s"] = self._top_self()
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"artifact": artifact}, default=str))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": len(timed),
                    "failed": len(timed) - len(ok),
                    "metrics": metrics,
                }
            )
        )
        return 0 if correct else 1

    # -- tracing ----------------------------------------------------------
    def _instrument(self) -> None:
        """Time calls into the engine's public functions (trace runs only)."""
        from distributed_deep_learning_with_apache_spark_spark.ml import distributed
        from distributed_deep_learning_with_apache_spark_spark.operators import similarity

        for name in ("build_ivf_index", "pq_encode_df"):
            setattr(similarity, name, self.spans.wrap(f"ann.{name}", getattr(similarity, name)))
        cls = distributed.DistributedMLPRegressor
        cls.fit = self.spans.wrap("ml.fit", cls.fit)

    def _write_spans(self) -> str:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{self.args.workload}-{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump(self.spans.finished(), f)
        return os.path.relpath(path, ROOT)

    def _top_self(self) -> dict[str, float]:
        by: dict[str, float] = {}
        for s in self.spans.finished():
            if s["op_id"] is not None:
                by[s["name"]] = by.get(s["name"], 0.0) + s["self_s"]
        return dict(sorted(by.items(), key=lambda kv: -kv[1])[:15])

    def layer_metrics(self, timed, rss, session_s, registry_s, warm_s) -> dict:
        """Per-layer numbers of a median round: each op contributes the
        median of its timed repeats, summed over the workload's ops."""
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        by_op: dict[str, list[dict]] = {}
        for r in timed:
            by_op.setdefault(r["op"], []).append(r)

        def rnd(fn, kinds=None) -> float:
            return sum(
                statistics.median(fn(r) for r in rs)
                for rs in by_op.values()
                if kinds is None or rs[0]["kind"] in kinds
            )

        def spark(key):
            return rnd(lambda r: r["spark"][key])

        def proc(cls):
            return rnd(lambda r: r["proc_cpu_s"][cls])

        def med(values) -> float:
            return statistics.median(values) if values else 0.0

        latency = rnd(lambda r: r["latency_s"])
        run_s = spark("executor_run_s")
        fits = [r for r in timed if r["kind"] == "fit"]
        score_s = rnd(lambda r: r["latency_s"], ("score",))
        score_rows = rnd(lambda r: r.get("rows", 0), ("score",))
        ann_s = med([
            sum(self.spans.total(f"ann.{n}", {r["op_id"]}) for n in ("build_ivf_index", "pq_encode_df"))
            for r in timed if r["op"] == W.AnnBuild.name
        ])
        batches = [b for r in timed for b in r["stream"]]
        m = {
            "session.get_spark_s": (session_s, "s"),
            "registry.load_all_s": (registry_s, "s"),
            "setup.warm_pass_s": (warm_s, "s"),
            "op.build_s": (rnd(lambda r: r.get("build_s", 0.0)), "s"),
            "op.exec_s": (rnd(lambda r: r.get("exec_s", 0.0)), "s"),
            "op.result_rows": (rnd(lambda r: r.get("rows", 0)), "count"),
            "plans.physical_plan_s": (rnd(lambda r: r.get("plan_s", 0.0)), "s"),
            "spark.jobs": (spark("jobs"), "count"),
            "spark.jobs_untagged": (rnd(lambda r: r["spark"]["jobs"] - r["spark"]["jobs_in_group"]), "count"),
            "spark.stages": (spark("stages"), "count"),
            "spark.tasks": (spark("tasks"), "count"),
            "spark.tasks_failed": (spark("tasks_failed"), "count"),
            "spark.executor_run_s": (run_s, "s"),
            "spark.executor_cpu_s": (spark("executor_cpu_s"), "s"),
            "spark.jvm_gc_s": (spark("jvm_gc_s"), "s"),
            "spark.core_utilization": (run_s / (latency * cores), "ratio"),
            "spark.sched_overhead_s": (latency - run_s / cores, "s"),
            "spark.input_bytes": (spark("input_bytes"), "bytes"),
            "spark.shuffle_read_bytes": (spark("shuffle_read_bytes"), "bytes"),
            "spark.shuffle_write_bytes": (spark("shuffle_write_bytes"), "bytes"),
            "spark.storage_bytes_held": (max(r["storage_held_bytes"] for r in timed), "bytes"),
            "proc.driver_cpu_s": (proc("driver"), "s"),
            "proc.jvm_cpu_s": (proc("jvm"), "s"),
            "proc.pyworker_cpu_s": (proc("pyworker"), "s"),
            "proc.driver_rss_mb": (rss.peak["driver"], "MB"),
            "proc.jvm_rss_mb": (rss.peak["jvm"], "MB"),
            "proc.pyworker_rss_mb": (rss.peak["pyworker"], "MB"),
            "ml.fit_s": (med([r["latency_s"] for r in fits]), "s"),
            "ml.epoch_s": (med([r["latency_s"] for r in fits]) / W.MLP_EPOCHS, "s"),
            "ml.jobs_per_epoch": (med([r["spark"]["jobs"] for r in fits]) / W.MLP_EPOCHS, "count"),
            "ml.final_loss": (fits[0]["final_loss"] if fits else 0.0, "mse"),
            "ml.score_s": (score_s, "s"),
            "ml.score_rows": (score_rows, "count"),
            "ml.score_rows_per_s": (score_rows / score_s if score_s else 0.0, "rows/s"),
            "ann.build_s": (ann_s, "s"),
            "stream.batches": (rnd(lambda r: len(r["stream"])), "count"),
            "stream.batch_p50_s": (med([b.get("triggerExecution", 0.0) for b in batches]), "s"),
            "stream.add_batch_s": (rnd(lambda r: sum(b.get("addBatch", 0.0) for b in r["stream"])), "s"),
            "stream.commit_s": (
                rnd(lambda r: sum(b.get("walCommit", 0.0) + b.get("commitOffsets", 0.0) for b in r["stream"])),
                "s",
            ),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the whole
    process tree (JVM, PySpark workers) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
    tree = telemetry.ProcTree()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        snap = tree.snapshot()
        if snap["jvm"][1] == 0 and snap["pyworker"][1] == 0:
            break
        time.sleep(0.2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="spark-graft closed-loop benchmark")
    ap.add_argument("--build", action="store_true",
                    help="only build the tables and caches for --sf, then exit")
    ap.add_argument("--workload", choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale factor of the generated tables")
    ap.add_argument(
        "--corrupt",
        default=None,
        help="drop a row from this op's timed results (self-test of the checks)",
    )
    a = ap.parse_args(argv)
    if not a.build and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    return a


if __name__ == "__main__":
    args = parse_args()
    sys.exit(build(args.sf) if args.build else Runner(args).main())
