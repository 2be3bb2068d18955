"""_events_ts_is_nanos cache semantics (ADVICE r3 / VERDICT r3 #6): the
sniff is cached per (path, mtime, size), so regenerating a fixture IN PLACE
with a different timestamp unit must invalidate the cached answer — a stale
True/False silently scales every events timestamp by 1000. Empty dataset
directories must error loudly, not cache a guess.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from distributed_deep_learning_with_apache_spark_spark.sources.catalog import (
    _events_ts_is_nanos,
)


def _write_events(path: str, unit: str) -> None:
    t = pa.table({"ts": pa.array([1_700_000_000_000], type=pa.timestamp(unit))})
    pq.write_table(t, path, store_schema=False)


def test_cache_invalidates_on_inplace_regeneration(tmp_path):
    p = str(tmp_path / "events.parquet")
    _write_events(p, "ns")
    assert _events_ts_is_nanos(p) is True
    # Regenerate IN PLACE with µs timestamps; bump mtime past ns resolution
    # collisions just in case the filesystem is coarse.
    _write_events(p, "us")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert _events_ts_is_nanos(p) is False


def test_empty_dataset_dir_errors(tmp_path):
    d = tmp_path / "events.parquet"
    d.mkdir()
    with pytest.raises(FileNotFoundError):
        _events_ts_is_nanos(str(d))


def test_prune_stale_cache_siblings(tmp_path):
    """ADVICE r3: publishing a new mtime-keyed cache slug must sweep the
    previous generation's copy, but spare fresh .tmp staging dirs (a
    concurrent builder) and other prefixes."""
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import (
        prune_stale_cache_siblings,
    )

    base = tmp_path / "cache"
    old = base / "root_testdata_sf0.1_111_222"
    old4 = base / "root_testdata_sf0.1_111_222_333_444"  # two-table slug
    new = base / "root_testdata_sf0.1_333_444"
    staging = base / "root_testdata_sf0.1_555_666.tmp.12345"
    other = base / "root_testdata_sf1_777_888"
    # r4 ADVICE: a fixture whose slug EXTENDS this prefix is a different
    # fixture (sf0.1 vs sf0.1_alt) — its live cache must not be swept.
    extended = base / "root_testdata_sf0.1_alt_999_111"
    for d in (old, old4, new, staging, other, extended):
        d.mkdir(parents=True)
        (d / "data").write_text("x")
    prune_stale_cache_siblings(str(base), "root_testdata_sf0.1", str(new))
    assert not old.exists()          # previous generation swept
    assert not old4.exists()         # multi-key slug generation swept too
    assert new.exists()              # the published root kept
    assert staging.exists()          # fresh concurrent stage spared
    assert other.exists()            # different prefix untouched
    assert extended.exists()         # prefix-extending fixture untouched


def _publisher(calls):
    """A `build_once` write callback that records its calls and writes one
    file into the stage."""

    def write(stage):
        calls.append(stage)
        with open(os.path.join(stage, "data.txt"), "w") as f:
            f.write("built")

    return write


def test_build_once_publishes_once(tmp_path):
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import build_once

    root = str(tmp_path / "store")
    calls = []
    assert build_once(root, "_DONE", _publisher(calls)) == root
    assert (tmp_path / "store" / "_DONE").exists()
    assert (tmp_path / "store" / "data.txt").read_text() == "built"
    assert build_once(root, "_DONE", _publisher(calls)) == root
    assert len(calls) == 1  # the published marker short-circuits the rebuild
    assert sorted(os.listdir(tmp_path)) == ["store"]  # no stage left


def test_build_once_lost_race_keeps_winner(tmp_path):
    """A concurrent builder publishes the complete root while this one is
    still writing: the winner stays untouched, this stage is discarded."""
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import build_once

    root = tmp_path / "store"

    def write(stage):
        root.mkdir()
        (root / "data.txt").write_text("winner")
        (root / "_DONE").write_text("ok")
        (tmp_path / stage / "data.txt").write_text("loser")

    assert build_once(str(root), "_DONE", write) == str(root)
    assert (root / "data.txt").read_text() == "winner"
    assert sorted(os.listdir(tmp_path)) == ["store"]


def test_build_once_replaces_stale_root(tmp_path):
    """A marker-less root (a crashed build) is replaced, not served."""
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import build_once

    root = tmp_path / "store"
    root.mkdir()
    (root / "half.txt").write_text("partial")
    calls = []
    build_once(str(root), "_DONE", _publisher(calls))
    assert len(calls) == 1
    assert sorted(os.listdir(root)) == ["_DONE", "data.txt"]
    assert sorted(os.listdir(tmp_path)) == ["store"]


def test_build_once_failed_write_leaves_nothing(tmp_path):
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import build_once

    def write(stage):
        with open(os.path.join(stage, "data.txt"), "w") as f:
            f.write("partial")
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        build_once(str(tmp_path / "store"), "_DONE", write)
    assert os.listdir(tmp_path) == []  # neither stage nor root


def test_keyed_root_prunes_stale_generation_after_publish(tmp_path):
    """A `keyed_root` store sweeps the previous fixture generation's copy
    once it publishes; a caller-chosen root beside it is never pruned."""
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import (
        build_once,
        keyed_root,
    )

    sf = tmp_path / "data" / "sf1"
    sf.mkdir(parents=True)
    (sf / "orders.parquet").write_text("v1")
    base = tmp_path / "cache"
    old = keyed_root(str(base), str(sf), "orders")
    build_once(old, "_DONE", _publisher([]))
    chosen = str(base / (os.path.basename(old) + "_1_2"))  # slug-shaped, caller-chosen
    build_once(chosen, "_DONE", _publisher([]))
    assert os.path.exists(old) and os.path.exists(chosen)  # a caller-chosen publish prunes nothing
    (sf / "orders.parquet").write_text("v2, regenerated")
    new = keyed_root(str(base), str(sf), "orders")
    assert new != old and os.path.basename(new).startswith(
        str(sf).strip("/").replace("/", "_") + "_"
    )
    build_once(new, "_DONE", _publisher([]))
    assert sorted(os.listdir(base)) == [os.path.basename(new)]


# A nested schema with a NULL at every level: struct, map, array holding
# NULL, decimal, date, timestamp and a NULL int.
NESTED_DDL = (
    "i int, l long, s string, d double, dec decimal(12,2), dt date, ts timestamp, "
    "a array<int>, m map<string,double>, st struct<x: long, y: array<string>, z: timestamp>, "
    "b binary, bo boolean"
)


def _nested_rows():
    import datetime
    import decimal

    from pyspark.sql import Row

    return [
        (
            1, 2, "a", 1.5, decimal.Decimal("3.25"), datetime.date(2020, 1, 2),
            datetime.datetime(2020, 1, 2, 3, 4, 5, 6), [1, None, 3], {"k": 1.0, "n": None},
            Row(x=1, y=["p", None], z=datetime.datetime(2021, 5, 5)), b"\x00\x01", True,
        ),
        (None,) * 12,
        (
            3, 4, "", -0.0, decimal.Decimal("-1.00"), datetime.date(1970, 1, 1),
            datetime.datetime(1999, 12, 31, 23, 59, 59), [], {}, (None, None, None), b"", False,
        ),
    ]


def test_local_frame_equals_create_data_frame(spark):
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import local_frame

    want = spark.createDataFrame(_nested_rows(), NESTED_DDL)
    got = local_frame(spark, _nested_rows(), NESTED_DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_accepts_rows_tuples_ddl_and_empty(spark):
    from pyspark.sql import types as T

    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import local_frame

    struct = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])
    rows = local_frame(spark, [(1, "a"), (2, None)], struct).collect()  # tuples, StructType
    again = local_frame(spark, rows, "k long, v string")  # Rows, DDL string
    assert again.schema == struct and again.collect() == rows
    empty = local_frame(spark, [], "k long, v string")
    assert empty.schema == struct and empty.collect() == []


def test_local_frame_collect_runs_no_job(spark):
    """A LocalRelation: reading it runs no Spark job, where a parallelized
    list runs one per read."""
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import local_frame

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    df = local_frame(spark, _nested_rows(), NESTED_DDL)
    first = sched.numTotalJobs()
    assert len(df.collect()) == 3
    assert sched.numTotalJobs() - first == 0
