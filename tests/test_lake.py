"""Data-lake writer tests: partition pruning, clustering, compaction.

Scale rationale (SURVEY §2.1 sinks, PySpark guide): at 100 TB the layout
produced by the writer decides every later scan's cost. These tests pin
the three properties that matter — (1) partitioned layout actually prunes,
(2) clustered files have disjoint key ranges so footer stats skip files,
(3) compaction reduces file count without changing data.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from distributed_deep_learning_with_apache_spark_spark.operators.dedup import build_band_index
from distributed_deep_learning_with_apache_spark_spark.operators.similarity import build_ivf_index
from distributed_deep_learning_with_apache_spark_spark.sources.catalog import fork, load_table
from distributed_deep_learning_with_apache_spark_spark.sources.lake import (
    compact,
    ensure_snapshot_table,
    write_clustered,
    write_partitioned,
)


@pytest.fixture()
def lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


def _data_files(path):
    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.basename(f)[0] not in "._"
    ]


def test_partitioned_write_layout_and_pruning(spark, lineitem, tmp_path):
    path = str(tmp_path / "part")
    li = lineitem.select("l_returnflag", "l_orderkey", "l_extendedprice")
    write_partitioned(li, path, ["l_returnflag"])

    # Hive layout: one directory per flag value, ONE file per directory
    # (the repartition-before-write collapses the N-tasks × P-values
    # small-file explosion).
    dirs = sorted(
        d for d in os.listdir(path) if d.startswith("l_returnflag=")
    )
    assert dirs == ["l_returnflag=A", "l_returnflag=N", "l_returnflag=R"]
    for d in dirs:
        assert len(_data_files(os.path.join(path, d))) == 1

    # A filter on the partition column shows up as a partition filter
    # (pruning), not a post-scan data filter.
    scan = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters")[1][:200]

    expected = li.filter(F.col("l_returnflag") == "R").count()
    assert scan.count() == expected


def test_clustered_write_disjoint_ranges(spark, lineitem, tmp_path):
    path = str(tmp_path / "clustered")
    write_clustered(lineitem.select("l_orderkey", "l_quantity"), path, "l_orderkey", 4)

    files = _data_files(path)
    assert 1 < len(files) <= 4
    # Each file's footer min/max on the clustering key must be disjoint:
    # that is the property that lets a range predicate skip whole files.
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("l_orderkey")
        mins = [md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups)]
        maxs = [md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo

    assert spark.read.parquet(path).count() == lineitem.count()


def test_compaction_reduces_files_preserves_rows(spark, lineitem, tmp_path):
    src = str(tmp_path / "small")
    dst = str(tmp_path / "compacted")
    li = lineitem.select("l_orderkey", "l_partkey", "l_quantity")
    li.repartition(32).write.parquet(src)
    assert len(_data_files(src)) == 32

    compact(spark, src, dst, 4)
    assert len(_data_files(dst)) <= 4
    assert spark.read.parquet(dst).count() == li.count()
    # Checksum parity, not just row count.
    chk = lambda p: spark.read.parquet(p).agg(
        F.sum("l_orderkey"), F.sum("l_partkey"), F.round(F.sum("l_quantity"), 2)
    ).collect()[0]
    assert chk(src) == chk(dst)


def test_zorder_write_prunes_on_both_columns(spark, lineitem, tmp_path):
    """Z-order layout: each file's (l_partkey, l_suppkey) bounding
    rectangle must cover a small fraction of the key plane, so footer
    stats prune on EITHER column — the property single-key clustering
    lacks on its second column."""
    from distributed_deep_learning_with_apache_spark_spark.sources.lake import (
        write_zordered,
        zorder_key,
    )

    li = lineitem.select("l_partkey", "l_suppkey", "l_quantity")
    mx = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    max_p, max_s = mx[0], mx[1]
    path = str(tmp_path / "zorder")
    z = zorder_key(F.col("l_partkey"), F.col("l_suppkey"), F.lit(max_p), F.lit(max_s))
    write_zordered(li, path, z, num_files=16)

    files = _data_files(path)
    assert len(files) >= 8
    areas = []
    for f in files:
        md = pq.read_metadata(f)
        lo_p = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi_p = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        lo_s = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        hi_s = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        areas.append(((hi_p - lo_p) / max_p) * ((hi_s - lo_s) / max_s))
    # Random layout -> every file spans ~the whole plane (area ~1.0).
    # Z-order -> mean rectangle area a small fraction of it.
    mean_area = sum(areas) / len(areas)
    assert mean_area < 0.35, mean_area

    # And a two-sided selective predicate must keep pushdown intact.
    got = (
        spark.read.parquet(path)
        .filter((F.col("l_partkey") < max_p // 10) & (F.col("l_suppkey") < max_s // 10))
        .count()
    )
    want = li.filter(
        (F.col("l_partkey") < max_p // 10) & (F.col("l_suppkey") < max_s // 10)
    ).count()
    assert got == want


def test_snapshot_manifests_reuse_and_isolate_files(spark, sf_dir):
    """Table-format semantics, asserted at the file level: append commits
    REUSE the parent's data files (no history rewrite), the copy-on-write
    delete publishes a disjoint file set, and old versions stay readable
    and unchanged after later commits (immutability = time travel)."""
    import json
    import os

    from distributed_deep_learning_with_apache_spark_spark.sources.lake import (
        ensure_snapshot_table,
        read_snapshot,
    )

    root = ensure_snapshot_table(spark, sf_dir)
    manifests = {}
    for v in (1, 2, 3):
        with open(os.path.join(root, f"snap_v{v}.json")) as f:
            manifests[v] = json.load(f)
    f1, f2, f3 = (set(manifests[v]["files"]) for v in (1, 2, 3))
    assert f1 < f2, "append must reuse v1's files and add new ones"
    assert f3.isdisjoint(f2), "copy-on-write delete must publish fresh files"
    n1, n2, n3 = (read_snapshot(spark, root, v).count() for v in (1, 2, 3))
    assert n1 < n2 and n3 < n2
    # time travel after later commits: v2 still returns the full pre-delete set
    assert read_snapshot(spark, root, 2).count() == n2
    # a crashed writer's unpublished manifest must be invisible
    assert not [p for p in os.listdir(root) if p.endswith(".tmp")]


def test_zorder_oracle_preserves_duplicate_rows():
    """ADVICE r3: the zorder oracle's morton CTE groups by the lineitem
    primary key (l_orderkey, l_linenumber), so two physical rows sharing
    (orderkey, quantity, ra, rb) — expected ~0.6 collisions at sf1, more on
    regenerated fixtures — must BOTH survive into the bucket stats. Pin it
    with a synthetic table where every non-PK attribute collides."""
    import duckdb

    from distributed_deep_learning_with_apache_spark_spark.registry import load_all

    oracle = load_all()["lake_zorder_stats"].oracle
    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE lineitem AS
        SELECT 1 AS l_orderkey, ln AS l_linenumber,
               7 AS l_partkey, 3 AS l_suppkey, 5.0 AS l_quantity
        FROM (SELECT unnest(generate_series(1, 4)) AS ln)
        """
    )
    rows = [(b, n, float(q)) for b, n, q in con.execute(oracle).fetchall()]
    # All four rows have identical (partkey, suppkey) = the column maxes, so
    # both ranks are 1023 -> zval = 2^20-1 -> bucket 15; the count must be 4
    # (no collapse) and total_qty 20, not 5.
    assert rows == [(15, 4, 20.0)], rows


def test_lake_compact_small_files_query_and_layout(spark, sf_dir, monkeypatch):
    """r5: the registered compaction op must (a) produce the size-targeted
    file count, (b) be content-neutral (aggregate parity vs the raw
    table), and (c) never compact to zero files."""
    import math

    from distributed_deep_learning_with_apache_spark_spark.registry import load_all
    from distributed_deep_learning_with_apache_spark_spark.sources import lake

    REG = load_all()
    # Intercept compact() to observe the staged layouts before cleanup.
    seen = {}
    orig = lake.compact

    def spy(spark_, src, dst, n):
        seen["small"] = len(_data_files(src))
        small_bytes = sum(os.path.getsize(p) for p in _data_files(src))
        seen["target"] = max(1, math.ceil(small_bytes / lake.COMPACT_TARGET_BYTES))
        assert n == seen["target"]
        orig(spark_, src, dst, n)
        seen["compacted"] = len(_data_files(dst))

    monkeypatch.setattr(lake, "compact", spy)
    out = {
        r["o_orderstatus"]: (r["n_orders"], r["total_price"])
        for r in REG["lake_compact_small_files"].fn(spark, sf_dir).collect()
    }
    assert seen["small"] == lake.COMPACT_SMALL_FILES
    assert 1 <= seen["compacted"] <= seen["target"]

    raw = {
        r["o_orderstatus"]: (r["n"], r["t"])
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.floor(
                    F.sum(F.floor(F.col("o_totalprice") * 10000 + 0.5).cast("long"))
                    / 100
                    + 0.5
                )
                / 100
            ).alias("t"),
        )
        .collect()
    }
    assert out == raw


def test_lake_vacuum_expire_mechanics(spark, sf_dir):
    """r5 VACUUM: expired versions become unreadable, retained versions
    stay bit-identical, exactly the files only-v1/v2 referenced are
    removed, and the shared cached fixture is untouched."""
    import json

    from distributed_deep_learning_with_apache_spark_spark.sources.lake import (
        VACUUM_RETAIN_FROM,
        ensure_snapshot_table,
        read_snapshot,
        vacuum_snapshots,
    )

    root = ensure_snapshot_table(spark, sf_dir)
    with fork(root) as clone:
        manifests = {}
        for p in glob.glob(os.path.join(clone, "snap_v*.json")):
            with open(p) as f:
                m = json.load(f)
            manifests[m["version"]] = set(m["files"])
        live = manifests[3] | manifests[4]
        expected_garbage = sorted((manifests[1] | manifests[2]) - live)

        before_v3 = sorted(read_snapshot(spark, clone, 3).collect())
        removed = vacuum_snapshots(clone, VACUUM_RETAIN_FROM)
        assert removed == expected_garbage and removed, removed

        # retained versions still read, and identically
        assert sorted(read_snapshot(spark, clone, 3).collect()) == before_v3
        assert read_snapshot(spark, clone, 4).count() == len(before_v3)
        # expired versions are gone (manifest deleted)
        with pytest.raises(FileNotFoundError):
            read_snapshot(spark, clone, 1)
        # garbage files physically deleted, live files intact
        for rel in expected_garbage:
            assert not os.path.exists(os.path.join(clone, rel))
        for rel in sorted(live):
            assert os.path.exists(os.path.join(clone, rel))
    # the shared fixture is untouched: all its files and manifests remain
    assert read_snapshot(spark, root, 1).count() > 0
    for rel in expected_garbage:
        assert os.path.exists(os.path.join(root, rel))


def _file_digests(root):
    """{root-relative path: (sha256, mtime_ns)} of every file under a store
    root. The mtime catches a write through a shared inode that leaves the
    bytes as they were (an empty `_SUCCESS` truncated and re-created)."""
    import hashlib

    out = {}
    for d, _subdirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out[os.path.relpath(p, root)] = (digest, os.stat(p).st_mtime_ns)
    return out


@pytest.mark.parametrize(
    "op, store",
    [
        ("lake_vacuum_expire", ensure_snapshot_table),
        ("lake_restore_version", ensure_snapshot_table),
        ("lake_shallow_clone_divergence", ensure_snapshot_table),
        ("near_dup_index_append_cycle", build_band_index),
        ("near_dup_compact_tombstones", build_band_index),
        ("stream_near_dup_incremental", build_band_index),
        ("ann_ivf_compact_tombstones", build_ivf_index),
    ],
)
def test_fork_leaves_shared_store_byte_identical(spark, sf_dir, op, store):
    """Every op that mutates a `fork` of a cached store (deletes, appends,
    rewritten manifests and `_SUCCESS` files) leaves the shared store with
    the same file list, the same bytes in every file and no file
    rewritten."""
    from distributed_deep_learning_with_apache_spark_spark.registry import load_all

    root = store(spark, sf_dir)
    before = _file_digests(root)
    assert before
    load_all()[op].fn(spark, sf_dir).collect()
    assert _file_digests(root) == before


def test_dpp_star_join_prunes_partitions_at_runtime(spark, sf_dir, tmp_path):
    """The fact scan must carry a dynamicpruningexpression partition
    filter (runtime pruning fed by the broadcast dim) — NOT read all
    month directories; and the dim must arrive by broadcast."""
    from distributed_deep_learning_with_apache_spark_spark.sources.lake import _dpp_star_frames

    out = _dpp_star_frames(spark, sf_dir, str(tmp_path / "dpp"))
    rows = out.collect()
    assert len(rows) == 3, rows  # one row per month of the quarter
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # Runtime-pruned scan: of the ~84 written month partitions, the files
    # actually read are only the quarter's three (metric on the scan node).
    n_parts = sum(
        1
        for d in (tmp_path / "dpp").iterdir()
        if d.name.startswith("ship_month=")
    )
    assert n_parts > 70, n_parts
