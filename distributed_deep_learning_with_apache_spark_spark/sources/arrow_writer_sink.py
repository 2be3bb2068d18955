"""Custom Python Data Source WRITER ("arrowsink"): the write-side twin of
the `pngv` / replay readers, completing the Spark-4 Python Data Source
surface (SURVEY §2.1 S13-S15 generalization — the reference's only sinks
are driver-side collect/print/Swing/model-file).

Mechanism — the real two-phase commit protocol every production sink needs:

1. Each write TASK receives its partition as pyarrow ``RecordBatch``es
   (``DataSourceArrowWriter`` — Arrow transfer, no per-row Python) and
   writes them to ONE parquet file under ``_staging/`` with a
   task-unique name, then returns a ``WriterCommitMessage`` naming the
   file and its row count.
2. The DRIVER collects all task messages; ``commit()`` renames every
   staged file into the table root and publishes a ``_SUCCESS`` manifest
   listing exactly the committed files (+ row total). ``abort()``
   deletes the staged files instead.

Consequences (pinned in tests/test_r5_new_ops.py): a reader that lists
files via the manifest never observes a half-written table (task retries
leave orphans only in _staging, never in the root), and overwrite mode
swaps the file set atomically with the manifest. On a cluster the same
protocol runs against shared storage (HDFS/S3 rename or a metastore
swap); local-mode rename is the same contract.
"""

from __future__ import annotations

import glob as _glob
import json as _json
import os as _os
import uuid as _uuid
from dataclasses import dataclass
from typing import Iterator, List, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    WriterCommitMessage,
)


@dataclass
class ArrowSinkCommit(WriterCommitMessage):
    staged: str  # staged file path (absolute)
    n_rows: int


class ArrowSinkWriter(DataSourceArrowWriter):
    def __init__(self, path: str, overwrite: bool):
        self.path = path
        self.overwrite = overwrite

    # -- executor side ------------------------------------------------------
    def write(self, iterator: Iterator) -> ArrowSinkCommit:
        import pyarrow as pa
        import pyarrow.parquet as pq

        staging = _os.path.join(self.path, "_staging")
        _os.makedirs(staging, exist_ok=True)
        # Task-unique name: a retried task stages a NEW file; the failed
        # attempt's orphan stays in _staging and is swept at commit.
        fname = _os.path.join(staging, f"task-{_uuid.uuid4().hex}.parquet")
        batches = list(iterator)
        if not batches:
            return ArrowSinkCommit(staged="", n_rows=0)
        table = pa.Table.from_batches(batches)
        pq.write_table(table, fname)
        return ArrowSinkCommit(staged=fname, n_rows=table.num_rows)

    # -- driver side --------------------------------------------------------
    def commit(self, messages: List[Optional[ArrowSinkCommit]]) -> None:
        # Per-COMMIT uuid in every final file name: a second append can
        # never rename over a prior commit's files, and an overwrite's new
        # file set is disjoint from the old one (so the old set can outlive
        # the rename step and be deleted only after publish).
        commit_id = _uuid.uuid4().hex[:12]
        committed, total = [], 0
        for i, m in enumerate(messages):
            if m is None or not m.staged:
                continue
            final = _os.path.join(self.path, f"part-{commit_id}-{i:05d}.parquet")
            _os.rename(m.staged, final)
            committed.append(_os.path.basename(final))
            total += m.n_rows
        manifest_path = _os.path.join(self.path, "_SUCCESS")
        prior_files: List[str] = []
        if _os.path.exists(manifest_path):
            with open(manifest_path) as f:
                prior = _json.load(f)
            prior_files = list(prior.get("files", []))
            if not self.overwrite:
                # Append: the new manifest is the UNION of prior + new —
                # prior rows are never lost or re-pointed.
                committed = prior_files + committed
                total += int(prior.get("n_rows", 0))
        # Publish the manifest LAST: readers key off it, so a crash any
        # earlier leaves the previous table version fully intact (its
        # files are untouched — overwrite deletion happens after publish).
        manifest = {"files": sorted(committed), "n_rows": total}
        tmp = _os.path.join(self.path, f"_SUCCESS.tmp.{_os.getpid()}")
        with open(tmp, "w") as f:
            _json.dump(manifest, f)
        _os.rename(tmp, manifest_path)
        # Only NOW delete superseded files (overwrite) — a crash between
        # publish and here leaves harmless orphans, never a manifest that
        # references deleted files.
        if self.overwrite:
            keep = set(manifest["files"])
            for name in prior_files:
                if name not in keep:
                    old = _os.path.join(self.path, name)
                    if _os.path.exists(old):
                        _os.remove(old)
        # Sweep retry orphans.
        for orphan in _glob.glob(_os.path.join(self.path, "_staging", "*.parquet")):
            _os.remove(orphan)

    def abort(self, messages: List[Optional[ArrowSinkCommit]]) -> None:
        for m in messages:
            if m is not None and m.staged and _os.path.exists(m.staged):
                _os.remove(m.staged)


class ArrowSinkDataSource(DataSource):
    @classmethod
    def name(cls):
        return "arrowsink"

    def writer(self, schema, overwrite: bool):
        path = self.options.get("path")
        if not path:
            raise ValueError("arrowsink requires .option('path', ...) or save(path)")
        _os.makedirs(path, exist_ok=True)
        return ArrowSinkWriter(path, overwrite)


def register_arrowsink(spark) -> None:
    """Idempotently register the sink on a session.

    The writer CLASS is shipped to Python workers via cloudpickle; unlike
    the reader path (which serializes reader INSTANCES by value), the
    write path pickles the DataSource class by REFERENCE, so a worker
    whose PYTHONPATH lacks this repo (driver-only sys.path insertion —
    exactly how the correctness driver runs) would hit
    ModuleNotFoundError. Registering this module for by-value pickling
    makes the sink self-contained: the classes reference only stdlib +
    pyarrow, both present on every worker.
    """
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(ArrowSinkDataSource)


def read_arrowsink_table(spark, path: str):
    """Manifest-honoring read: only files the _SUCCESS manifest names."""
    with open(_os.path.join(path, "_SUCCESS")) as f:
        manifest = _json.load(f)
    files = [_os.path.join(path, p) for p in manifest["files"]]
    return spark.read.parquet(*files)


# ---------------------------------------------------------------------------
# Registry entry: the sink exercised end-to-end (write → manifest read)
# ---------------------------------------------------------------------------
from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..registry import register  # noqa: E402
from .catalog import load_table, local_frame  # noqa: E402


@register(
    "sink_custom_writer_roundtrip",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        WHERE l_quantity > 25
        GROUP BY l_returnflag
    """,
    doc="Spark-4 Python Data Source WRITER: Arrow-batched task writes, staged files, driver commit + manifest; round-trip hash-checked.",
    tags=("sink", "source", "ext"),
)
def sink_custom_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem projection through the custom `arrowsink`
    format (one Arrow-batched parquet file per task, two-phase commit,
    _SUCCESS manifest), then read back VIA THE MANIFEST and aggregate.
    The result must hash-match the oracle aggregating the original table
    — proving the sink neither lost, duplicated, nor mutated rows
    through the stage/commit cycle.
    """
    import shutil
    import tempfile

    register_arrowsink(spark)
    base = tempfile.mkdtemp(prefix="sg_arrowsink_")
    try:
        (
            load_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_quantity") > 25)
            .select("l_returnflag", "l_quantity")
            .write.format("arrowsink")
            .mode("overwrite")
            .option("path", base)
            .save()
        )
        out = (
            read_arrowsink_table(spark, base)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            )
        )
        return local_frame(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)
