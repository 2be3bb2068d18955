"""Table catalog: explicit schemas + loaders for the fixture star schema.

The reference fixes every schema at compile time (case classes /
constructor-time tensor shapes — SURVEY §1.2); we mirror that discipline
with explicit ``StructType`` schemas instead of relying on inference.
Reference parity: the in-memory collection scan `SparkRDDAPITest.scala:12-18`
and file scans `Word2VecTransformingIterator.java:47-50` become
``spark.read.schema(...).parquet(...)`` here.

Scale posture: parquet scans get predicate pushdown + column pruning from
Catalyst for free; dimension tables (region/nation/supplier/part/customer)
are small enough to broadcast at any realistic scale and are tagged so join
builders can hint ``F.broadcast``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession


def prune_stale_cache_siblings(base: str, prefix: str, keep: str) -> None:
    """Sweep obsolete mtime-keyed cache dirs for one source prefix.

    The /tmp caches (IVF index, snapshot table) are keyed
    ``{prefix}_{mtime_ns}_{size}``, so every fixture regeneration mints a
    new slug and would otherwise strand the old copy forever (round-3
    ADVICE). Called after an atomic publish: siblings of ``keep`` sharing
    the prefix are removed. Staging dirs (``*.tmp.<pid>``) are spared for
    an hour so a concurrent builder is never swept mid-write; a stale root
    can in principle be pruned under a concurrent reader of an OLD fixture,
    which is acceptable — regeneration and reads of the pre-regeneration
    corpus don't overlap in this harness.
    """
    import glob
    import re
    import shutil
    import time

    # Match siblings structurally — prefix followed by one or more
    # `_<mtime_ns>_<size>` key pairs (the bucketed cache keys two source
    # tables → four numeric groups), plus optional `.tmp.<pid>` staging
    # suffix.  A bare `{prefix}_*` glob would also sweep a DIFFERENT
    # fixture whose slug extends this one (…/sf0.1 vs …/sf0.1_alt),
    # deleting its live cache (round-4 ADVICE).
    slug = re.compile(re.escape(prefix) + r"(_\d+_\d+)+(\.tmp\.\d+)?$")
    for p in glob.glob(os.path.join(base, prefix + "_*")):
        if not slug.match(os.path.basename(p)):
            continue
        if os.path.abspath(p) == os.path.abspath(keep):
            continue
        if ".tmp." in os.path.basename(p):
            try:
                if time.time() - os.path.getmtime(p) < 3600:
                    continue
            except OSError:
                continue
        shutil.rmtree(p, ignore_errors=True)


class _KeyedRoot(str):
    """A cache root minted by `keyed_root`: `build_once` prunes its stale
    siblings after publishing it."""

    base: str
    prefix: str


def keyed_root(base: str, sf_dir: str, *tables: str) -> str:
    """``{base}/{slug}_{mtime_ns}_{size}[…]``: the cache root of a store
    built from ``tables`` of ``sf_dir``, one key pair per table, so a
    regenerated fixture mints a new root (and the old one is pruned)."""
    prefix = sf_dir.strip("/").replace("/", "_")
    key = ""
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        key += f"_{st.st_mtime_ns}_{st.st_size}"
    root = _KeyedRoot(os.path.join(base, prefix + key))
    root.base, root.prefix = base, prefix
    return root


def build_once(root: str, marker: str, write) -> str:
    """Publish the store at ``root`` at most once; return the root.

    An existing ``marker`` returns the root untouched. Otherwise
    ``write(stage)`` fills an empty process-private ``<root>.tmp.<pid>``
    dir, which gets the marker and is atomically renamed onto the root
    (same filesystem; the local stand-in for an object store's
    conditional PUT), so a concurrent reader never sees a half-written
    tree. A lost race to a complete root discards the stage; a stale
    marker-less root from a crashed run is replaced. A raising ``write``
    leaves no stage behind. Roots from `keyed_root` then prune their
    stale siblings; caller-chosen and fixed roots never prune."""
    import shutil

    done = os.path.join(root, marker)
    if os.path.exists(done):
        return str(root)
    stage = f"{root}.tmp.{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    try:
        write(stage)
        with open(os.path.join(stage, marker), "w") as f:
            f.write("ok")
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    try:
        os.rename(stage, root)
    except OSError:
        if os.path.exists(done):  # lost the race to a complete store
            shutil.rmtree(stage, ignore_errors=True)
        else:  # stale half-built root from a crashed run: replace it
            shutil.rmtree(root, ignore_errors=True)
            os.rename(stage, root)
    if isinstance(root, _KeyedRoot):
        prune_stale_cache_siblings(root.base, root.prefix, root)
    return str(root)


@contextmanager
def fork(root: str):
    """Yield a private, mutable copy of the published store at ``root``;
    the copy is removed on exit. Data files (``*.parquet``) are hardlinked
    — no bytes copied, and deleting or replacing one in the copy never
    touches the original — while every other file is copied, so a
    rewritten ``_SUCCESS``, ``.crc`` or manifest can never write through
    to the shared inode. The temp dir must share the store's filesystem."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="sg_fork_")
    try:
        for d, _subdirs, files in os.walk(root):
            dst = os.path.join(work, os.path.relpath(d, root))
            os.makedirs(dst, exist_ok=True)
            for f in files:
                copy = os.link if f.endswith(".parquet") else shutil.copyfile
                copy(os.path.join(d, f), os.path.join(dst, f))
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


from pyspark.sql import functions as F
from pyspark.sql import types as T


def _arrow_value(dt: T.DataType):
    """The per-value conversion pyarrow needs for a Spark type, or None
    when the value passes as is: Rows become dicts, maps become key/value
    pairs, and a naive timestamp is read as local time (as Spark reads
    it), recursively."""
    if isinstance(dt, T.StructType):
        subs = [(f.name, _arrow_value(f.dataType)) for f in dt.fields]
        return lambda v: None if v is None else {
            n: (c(x) if c else x) for (n, c), x in zip(subs, v)
        }
    if isinstance(dt, T.ArrayType):
        c = _arrow_value(dt.elementType)
        return c and (lambda v: None if v is None else [c(x) for x in v])
    if isinstance(dt, T.MapType):
        kc = _arrow_value(dt.keyType) or (lambda x: x)
        vc = _arrow_value(dt.valueType) or (lambda x: x)
        return lambda v: None if v is None else [(kc(k), vc(x)) for k, x in v.items()]
    if isinstance(dt, T.TimestampType):
        return lambda v: v.astimezone() if v is not None and v.tzinfo is None else v
    return None


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (Rows or tuples, in
    ``schema`` order; ``schema`` a StructType or a DDL string).

    It is built from an Arrow table, so the plan holds a LocalRelation:
    reading it runs no Spark job, where ``createDataFrame(<list>)``
    parallelizes the rows and runs one job of defaultParallelism tasks
    per read. The rows stay in the driver, as they already were."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    cols = []
    for i, f in enumerate(schema.fields):
        conv = _arrow_value(f.dataType)
        vals = [r[i] for r in rows]
        cols.append(pa.array([conv(v) for v in vals] if conv else vals, type=arrow.field(i).type))
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)


def literal_rows(rows, schema) -> Column:
    """A few driver-held ``rows`` as one literal ``array<struct>`` column
    (``schema`` as for `local_frame`), for ``F.inline``. Joining a local
    frame broadcasts it, and that broadcast runs one Spark job; rows
    carried in the plan run none, at a plan size that grows with them."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    fields = schema.fields
    return F.array(
        *[
            F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for f, v in zip(fields, r)])
            for r in rows
        ]
    ).cast(T.ArrayType(T.StructType(fields)))


# Tables small enough to broadcast in joins at full 100 TB scale
# (dimensions grow ~linearly with SF in TPC-H but stay << fact tables;
# region/nation are constant-size).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # ts unit varies across fixture generations (TIMESTAMP_NS in some,
    # TIMESTAMP_US/NTZ in others); load_table sniffs the footer and
    # normalizes to a microsecond TimestampType — same truncation DuckDB
    # applies casting TIMESTAMP_NS -> TIMESTAMP.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def _events_ts_is_nanos(path: str) -> bool:
    """Sniff the parquet footer: True when events.ts is TIMESTAMP(NANOS).

    Footer-only read (no row groups), cached per (path, mtime, size) — the
    fixture generator has shipped both ns and µs units across rounds and a
    wrong guess silently scales every timestamp by 1000; keying on mtime
    means an in-place fixture regeneration invalidates the cache.
    """
    import glob

    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):  # Spark-written dataset: sniff one part file
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no *.parquet part files under {path}")
        probe = parts[0]
    st = os.stat(probe)
    key = (probe, st.st_mtime_ns, st.st_size)
    if key not in _EVENTS_TS_NANOS_CACHE:
        unit = getattr(pq.read_schema(probe).field("ts").type, "unit", "us")
        # Legacy INT96 timestamps surface as timestamp[ns] in pyarrow but
        # Spark reads them natively as µs timestamps — only genuine
        # INT64/TIMESTAMP(NANOS) needs the nanosAsLong path.
        schema = pq.ParquetFile(probe).schema
        phys = {schema.column(i).name: schema.column(i).physical_type for i in range(len(schema.names))}
        _EVENTS_TS_NANOS_CACHE[key] = unit == "ns" and phys.get("ts") == "INT64"
    return _EVENTS_TS_NANOS_CACHE[key]


_EVENTS_TS_NANOS_CACHE: dict[tuple[str, int, int], bool] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its explicit schema."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _events_ts_is_nanos(path):
        # legacy.parquet.nanosAsLong reads TIMESTAMP(NANOS) as raw long;
        # floor-divide to µs like DuckDB's TIMESTAMP_NS -> TIMESTAMP cast.
        schema = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
                for f in TABLE_SCHEMAS[name]
            ]
        )
        df = spark.read.schema(schema).parquet(path)
        return df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for name in TABLE_SCHEMAS:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
