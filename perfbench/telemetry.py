"""Measurement helpers: process-tree CPU/RSS, per-op Spark counters from the
status store, a streaming-progress listener, and in-memory trace spans.

Everything here reads state the engine already exposes. ``SparkCounters``
works with ``spark.ui.enabled=false``: it attributes jobs to an op by the
job-id window the op ran in (the benchmark is a single closed-loop client,
so every job started during an op belongs to it — including micro-batch
jobs, which run on the stream thread outside the op's job group) and reads
each job's stages from ``AppStatusStore``.
"""

from __future__ import annotations

import functools
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# Process tree: the Python driver, the Spark JVM and the PySpark workers
# ---------------------------------------------------------------------------
def _resident(pid: int) -> int:
    """Resident bytes as PSS: pages shared between processes (the PySpark
    worker daemon and its forks) are split among them, so summing over the
    tree counts each physical page once. Falls back to RSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK  # utime..cstime


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class ProcTree:
    """Classify this process's descendants as driver / jvm / pyworker and
    read their CPU time and resident memory. PySpark workers are the Python processes
    under the JVM (the worker daemon reaps its forks, so their CPU lands
    in its cumulative child time)."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def snapshot(self) -> dict[str, tuple[float, float]]:
        stats = {}
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat(int(name))
            if st is None:
                continue
            stats[int(name)] = st
            children.setdefault(st[0], []).append(int(name))
        out = {"driver": [0.0, 0.0], "jvm": [0.0, 0.0], "pyworker": [0.0, 0.0]}

        def walk(pid: int, cls: str) -> None:
            st = stats.get(pid)
            if st is not None:
                out[cls][0] += st[1]
                try:
                    out[cls][1] += _resident(pid)
                except OSError:  # exited since the scan
                    pass
            for c in children.get(pid, ()):
                comm = _comm(c)
                if comm == "java":
                    walk(c, "jvm")
                elif cls == "driver":
                    walk(c, "driver")  # spark-submit launcher shells
                else:
                    walk(c, "pyworker")

        walk(self.root, "driver")
        return {k: (v[0], v[1] / 2**20) for k, v in out.items()}


class PeakRss:
    """Background sampler of the whole tree's resident memory."""

    def __init__(self, tree: ProcTree, interval: float = 0.2) -> None:
        self.tree = tree
        self.interval = interval
        self.peak_total = 0.0
        self.peak = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def sample(self) -> None:
        snap = self.tree.snapshot()
        self.peak_total = max(self.peak_total, sum(v[1] for v in snap.values()))
        for k, v in snap.items():
            self.peak[k] = max(self.peak[k], v[1])

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark counters per op (job group + job-id window + status store)
# ---------------------------------------------------------------------------
SPARK_KEYS = (
    "jobs", "jobs_in_group", "stages", "tasks", "tasks_failed", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes",
)


class SparkCounters:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def job_count(self) -> int:
        return int(self.jsc.dagScheduler().numTotalJobs())

    def drain(self) -> None:
        """Wait until every posted listener event (job/stage ends, streaming
        progress) has reached the status store and the listeners."""
        self.jsc.listenerBus().waitUntilEmpty()

    def storage_held_bytes(self) -> int:
        held = 0
        status = self.jsc.getExecutorMemoryStatus()
        it = status.iterator()
        while it.hasNext():
            mem = it.next()._2()
            held += int(mem._1()) - int(mem._2())
        return held

    def collect(self, group: str, first_job: int, end_job: int) -> dict[str, float]:
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        seen: set[int] = set()
        for jid in range(first_job, end_job):
            try:
                job = self.store.job(jid)
            except Exception:  # evicted from the store or not yet recorded
                continue
            out["jobs"] += 1
            grp = job.jobGroup()
            if grp.isDefined() and grp.get() == group:
                out["jobs_in_group"] += 1
            ids = job.stageIds().mkString(",")
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    out["tasks_failed"] += sd.numFailedTasks()
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                    out["input_bytes"] += sd.inputBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out


class BatchRecorder(StreamingQueryListener):
    """Accumulates the duration breakdown of every micro-batch progress
    event (addBatch, walCommit, commitOffsets, triggerExecution, ...)."""

    def __init__(self) -> None:
        self.batches: list[dict[str, float]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (pyspark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        d = event.progress.durationMs or {}
        with self._lock:
            self.batches.append({k: float(v) / 1e3 for k, v in d.items()})

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def take(self) -> list[dict[str, float]]:
        with self._lock:
            out, self.batches = self.batches, []
        return out


# ---------------------------------------------------------------------------
# Trace spans
# ---------------------------------------------------------------------------
class Spans:
    """In-memory spans. Each has an id, the op id it belongs to, its parent
    span and wall-clock bounds; they are written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    def open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "op_id": self.op_id,
                "parent": self._stack[-1] if self._stack else None,
                "name": name,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> float:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        while self._stack and self._stack[-1] != sid:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        return span["end"] - span["start"]

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(sid)

        return traced

    def finished(self) -> list[dict]:
        """Closed spans with duration and self time (duration minus the
        union of the intervals its direct children cover)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out

    def total(self, name: str, op_ids: set[int] | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and s["end"] is not None
            and (op_ids is None or s["op_id"] in op_ids)
        )
