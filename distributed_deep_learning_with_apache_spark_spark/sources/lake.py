"""Data-lake write patterns: partitioned, clustered, and compacted parquet.

The reference's only sinks are driver-side (collect/print, Swing grid,
model file — SURVEY §2.1 S13-S15). At 100 TB the engine's real sink is a
partitioned parquet/lakehouse table, and HOW it is written decides every
downstream scan's cost, so these writers are first-class operators:

- ``write_partitioned``: hive-style ``partitionBy`` layout so downstream
  filters on the partition column become partition PRUNING (directories
  never listed, files never opened). Rows are ``repartition``-ed on the
  partition columns first: without that, every one of the N writer tasks
  emits a file into every partition directory (N×P small files, the
  classic lake pathology); with it, each partition's rows land in one
  task → one file.
- ``write_clustered``: ``repartitionByRange + sortWithinPartitions`` on a
  clustering key so each output file covers a narrow, disjoint key range.
  Parquet stores per-row-group min/max stats; range-disjoint files turn a
  selective range predicate into data SKIPPING (whole files eliminated by
  footer stats alone). This is the poor-man's Z-order, and the right
  single-key clustering for time-series / key-range workloads.
- ``compact``: rewrite a directory of many small files into few large
  ones. Streaming sinks and incremental merges (see
  ``streaming/events.py::stream_foreachbatch_merge``) accrete small
  files; scan cost is per-file footer + seek overhead, so periodic
  compaction is standard lake maintenance.

All three are plain Spark writers — no custom file format — so they keep
predicate pushdown, column pruning, and vectorized parquet reads intact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .catalog import build_once, fork, keyed_root, load_table, local_frame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet write, one file per partition value.

    ``repartition(*partition_cols)`` co-locates each partition's rows on a
    single task so the layout is P directories × 1 file, not P × N.
    """
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_clustered(df: DataFrame, path: str, cluster_col: str, num_files: int) -> None:
    """Range-clustered parquet write: ``num_files`` files with disjoint
    ``cluster_col`` ranges, rows sorted within each file.

    Disjoint per-file min/max stats make selective range predicates skip
    whole files at planning time (parquet footer stats), and the in-file
    sort tightens per-row-group stats for finer skipping.
    """
    (
        df.repartitionByRange(num_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact(spark: SparkSession, src: str, dst: str, num_files: int) -> None:
    """Rewrite ``src`` (many small files) into ``dst`` as ``num_files``
    files. ``coalesce`` avoids a shuffle: it only glues input splits
    together, which is exactly right for compaction (no key layout to
    preserve)."""
    spark.read.parquet(src).coalesce(num_files).write.mode("overwrite").parquet(dst)


COMPACT_SMALL_FILES = 64  # the fragmented layout a micro-batch ingest leaves
COMPACT_TARGET_BYTES = 4 << 20  # demo-scale bin size; 128 MB-1 GB in production


@register(
    "lake_compact_small_files",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor(sum(floor(o_totalprice * 10000 + 0.5)) / 100 + 0.5) / 100
                 AS total_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="OPTIMIZE-style bin-packing compaction: 64-file ingest layout rewritten to size-targeted files (shuffle-free coalesce), answered from the compacted copy.",
    tags=("lake", "ext", "scale"),
)
def lake_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake-maintenance OPTIMIZE operation: a streaming/micro-batch
    ingest leaves a table fragmented into many tiny files (staged here as
    a 64-file orders copy), whose per-file open/footer/seek overhead
    dominates scans at scale. Compaction sizes the target file count from
    the ACTUAL byte size (``ceil(bytes / target)``, never fewer than one)
    and rewrites via shuffle-free ``coalesce`` — input splits are glued,
    no key layout exists to preserve, so the rewrite moves each byte
    exactly once. The revenue query is answered from the compacted copy
    and hash-matches DuckDB on the raw table: compaction must be
    content-neutral.

    Scale: on a real lake this runs per-partition with a manifest swap
    (the snapshot pattern of `lake_snapshot_time_travel`); cost is one
    read+write of the compacted partition, amortized against every
    subsequent scan's file-count reduction. tests/test_lake.py pins the
    before/after file counts and byte-size targeting.
    """
    import math
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="sg_compact_")
    small = _os.path.join(base, "small")
    dst = _os.path.join(base, "compacted")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        orders.repartition(COMPACT_SMALL_FILES).write.mode("overwrite").parquet(small)
        total_bytes = sum(
            _os.path.getsize(p)
            for p in _glob.glob(_os.path.join(small, "*.parquet"))
        )
        n_files = max(1, math.ceil(total_bytes / COMPACT_TARGET_BYTES))
        compact(spark, small, dst, n_files)
        out = (
            spark.read.parquet(dst)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                (
                    F.floor(
                        F.sum(
                            F.floor(F.col("o_totalprice") * 10000 + 0.5).cast("long")
                        )
                        / 100
                        + 0.5
                    )
                    / 100
                ).alias("total_price"),
            )
        )
        # Materialize before the temp lake directory is removed.
        return local_frame(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_partition_pruned_revenue",
    oracle="""
        SELECT l_linestatus,
               count(*) AS n_items,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        WHERE l_returnflag = 'R'
        GROUP BY l_linestatus
    """,
    tags=("lake", "sink", "agg"),
)
def lake_partition_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem hive-partitioned by l_returnflag, then answer a
    returnflag-filtered revenue query from the partitioned copy.

    The filter prunes to the ``l_returnflag=R`` directory — the scan never
    opens the other partitions' files (plan shows it as a partition
    filter, not a data filter). End-to-end proof that the partitioned
    writer produces a layout Catalyst can prune, with the one-shot SQL
    aggregate as the oracle.
    """
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_lake_", ignore_cleanup_errors=True) as base:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_extendedprice", "l_discount"
        )
        write_partitioned(li, base, ["l_returnflag"])

        out = (
            spark.read.parquet(base)
            .filter(F.col("l_returnflag") == "R")
            .groupBy("l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                ),
            )
        )
        # Materialize before the temp lake directory is removed.
        return local_frame(spark, out.collect(), out.schema)


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering: multi-column data skipping
# ---------------------------------------------------------------------------
Z_BITS = 10  # 10 bits per dimension -> 20-bit interleaved key, 1024 buckets/dim


def zorder_key(col_a, col_b, max_a, max_b):
    """Morton interleave of two columns, all JVM-side bit arithmetic.

    Each column is scaled to a Z_BITS-bit integer rank, then bits are
    interleaved (a in even positions, b in odd). Sorting by the result
    gives every file a small axis-aligned rectangle of the (a, b) space,
    so per-file min/max footer stats prune on EITHER column — the
    multi-column generalization of single-key range clustering
    (write_clustered), same construction Delta/Iceberg OPTIMIZE ZORDER
    uses."""
    scale = (1 << Z_BITS) - 1
    ra = F.least(F.floor(col_a * scale / max_a), F.lit(scale)).cast("long")
    rb = F.least(F.floor(col_b * scale / max_b), F.lit(scale)).cast("long")
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        bit_a = F.shiftrightunsigned(ra, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftrightunsigned(rb, i).bitwiseAND(F.lit(1))
        z = (
            z.bitwiseOR(F.shiftleft(bit_a, 2 * i))
            .bitwiseOR(F.shiftleft(bit_b, 2 * i + 1))
        )
    return z


def write_zordered(df: DataFrame, path: str, z_col, num_files: int) -> None:
    """Z-order-clustered parquet write: range-partition + sort on the
    Morton key so each file covers one compact rectangle of the key
    space."""
    (
        df.withColumn("_z", z_col)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


@register(
    "lake_zorder_stats",
    oracle="""
        WITH z AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
                 (SELECT max(l_partkey) FROM lineitem) AS max_p,
                 (SELECT max(l_suppkey) FROM lineitem) AS max_s
          FROM lineitem
        ),
        keyed AS (
          SELECT l_orderkey, l_linenumber, l_quantity,
                 least(CAST(floor(l_partkey * 1023.0 / max_p) AS BIGINT), 1023) AS ra,
                 least(CAST(floor(l_suppkey * 1023.0 / max_s) AS BIGINT), 1023) AS rb
          FROM z
        ),
        -- (l_orderkey, l_linenumber) is the lineitem primary key, so this
        -- GROUP BY keeps exactly one output row per input row even when two
        -- rows share (l_quantity, ra, rb) — collisions grow with SF.
        morton AS (
          SELECT l_orderkey, l_quantity,
                 bit_or((ra >> b & 1) << (2 * b)) | bit_or((rb >> b & 1) << (2 * b + 1)) AS zval
          FROM keyed, (SELECT unnest(generate_series(0, 9)) AS b)
          GROUP BY l_orderkey, l_linenumber, l_quantity, ra, rb
        )
        SELECT CAST(zval // 65536 AS BIGINT) AS z_bucket,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l_quantity), 2) AS total_qty
        FROM morton GROUP BY 1
    """,
    doc="Morton/Z-order key computation + per-bucket stats (the clustering key the z-order writer sorts by).",
    tags=("lake", "ext", "scale"),
)
def lake_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked half of the z-order path: the Morton key itself
    (pure bit arithmetic, engine-portable) aggregated into coarse buckets.
    The file-layout effect of sorting by this key is asserted in
    tests/test_lake.py (disjoint per-file rectangles -> stats pruning on
    either column)."""
    li = load_table(spark, sf_dir, "lineitem")
    maxes = li.agg(
        F.max("l_partkey").alias("max_p"), F.max("l_suppkey").alias("max_s")
    )
    z = zorder_key(F.col("l_partkey"), F.col("l_suppkey"), F.col("max_p"), F.col("max_s"))
    return (
        li.crossJoin(F.broadcast(maxes))
        .select(F.col("l_quantity"), z.alias("zval"))
        .groupBy((F.col("zval") / 65536).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


ZW_FILES = 16  # target clustered files: 4 effective z-bits -> each file
#               covers ~a (1/4 x 1/4) rectangle of the two-key plane


def zorder_exact_file_ids(spark, keyed: DataFrame, z_col: str, num_files: int):
    """EXACT file assignment for a z-clustered write: per-z-value counts
    (map-side-combinable) → cumulative counts over the DISTINCT-z domain →
    the (num_files-1) rank order statistics → a broadcast-literal bucket
    expression. This is `range_partition_boundaries` (setops.py:1056)
    applied to the Morton key: Spark's own repartitionByRange SAMPLES its
    boundaries, and at 100 TB a sampled boundary on a skewed key is a 2x
    straggler file; exact order-stat cuts make every file's row count
    equal by construction. The one serial pass — a global-order window is
    always a single partition — runs over DISTINCT z values only, bounded
    by the 2^(2*Z_BITS) = ~1M-value quantized key domain regardless of
    table size (the bounded-global-window class, never data-proportional).

    Returns ``(fid_expr, cuts)``: the scan-stage bucket expression and the
    collected boundary literals (<= num_files - 1 of them; duplicate
    order stats collapse, so fewer, larger files on tiny/tied domains).
    """
    per_value = keyed.groupBy(z_col).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wv = Window.orderBy(z_col)
    cum = per_value.select(
        z_col,
        F.sum("c").over(wv).cast("long").alias("cumrows"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    parts = spark.range(1, num_files).select(F.col("id").alias("t"))
    r_k = F.floor((F.col("t") * F.col("n")) / num_files).cast("long")
    bounds = (
        cum.crossJoin(F.broadcast(parts))
        .groupBy("t")
        .agg(
            F.min(
                F.when((r_k >= 1) & (F.col("cumrows") >= r_k), F.col(z_col))
            ).alias("b")
        )
        .collect()
    )  # bounded: num_files - 1 rows
    cuts = sorted({int(r["b"]) for r in bounds if r["b"] is not None})
    fid = F.lit(0)
    for b in cuts:
        fid = fid + F.when(F.col(z_col) > F.lit(b), 1).otherwise(0)
    return fid.cast("int"), cuts


def _zorder_skipping_gate(out_dir: str, max_p: int, max_s: int) -> dict:
    """Prove the written layout actually SKIPS, from parquet footer stats
    alone (the exact information a lakehouse scan planner uses): for a
    selective predicate on EITHER key — and their conjunction — count the
    files whose [min,max] range overlaps it, and raise if the overlap
    fraction says the layout degenerated to single-key clustering (which
    passes the A-only probe but overlaps ~100% of files on B-only).
    Returns the measured fractions for the caller's docstring claims."""
    import pyarrow.parquet as _pq

    files = sorted(_glob.glob(_os.path.join(out_dir, "**", "*.parquet"), recursive=True))
    if not files:
        raise RuntimeError("lake_zorder_write: no data files written")
    rects = []
    for fp in files:
        md = _pq.read_metadata(fp)
        names = [md.row_group(0).column(j).path_in_schema for j in range(md.row_group(0).num_columns)]
        jp, js = names.index("l_partkey"), names.index("l_suppkey")
        lo_p = min(md.row_group(i).column(jp).statistics.min for i in range(md.num_row_groups))
        hi_p = max(md.row_group(i).column(jp).statistics.max for i in range(md.num_row_groups))
        lo_s = min(md.row_group(i).column(js).statistics.min for i in range(md.num_row_groups))
        hi_s = max(md.row_group(i).column(js).statistics.max for i in range(md.num_row_groups))
        rects.append((lo_p, hi_p, lo_s, hi_s))
    n = len(rects)
    cut_p, cut_s = max_p / 8.0, max_s / 8.0  # an eighth of each key domain
    f_a = sum(1 for lo_p, _, _, _ in rects if lo_p <= cut_p) / n
    f_b = sum(1 for _, _, lo_s, _ in rects if lo_s <= cut_s) / n
    f_ab = (
        sum(1 for lo_p, _, lo_s, _ in rects if lo_p <= cut_p and lo_s <= cut_s) / n
    )
    # 16 equal-count z-files ≈ one (1/4 x 1/4) rectangle each: an eighth
    # predicate on one key overlaps ~1/4 of files (vs ~ALL files for the
    # unclustered key under single-key layout), the conjunction ~1/16.
    # Gates are 2x slack over those geometric targets.
    if n >= 8 and (f_a > 0.5 or f_b > 0.5 or f_ab > 0.3):
        raise RuntimeError(
            f"lake_zorder_write: layout does not skip — overlap fractions "
            f"partkey-only {f_a:.2f}, suppkey-only {f_b:.2f}, both {f_ab:.2f} "
            f"over {n} files (gates: 0.5 / 0.5 / 0.3)"
        )
    return {"files": n, "f_a": f_a, "f_b": f_b, "f_ab": f_ab}


@register(
    "lake_zorder_write",
    oracle="""
        WITH z AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
                 (SELECT max(l_partkey) FROM lineitem) AS max_p,
                 (SELECT max(l_suppkey) FROM lineitem) AS max_s
          FROM lineitem
        ),
        keyed AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
                 least(CAST(floor(l_partkey * 1023.0 / max_p) AS BIGINT), 1023) AS ra,
                 least(CAST(floor(l_suppkey * 1023.0 / max_s) AS BIGINT), 1023) AS rb
          FROM z
        )
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
               bit_or((ra >> b & 1) << (2 * b)) | bit_or((rb >> b & 1) << (2 * b + 1)) AS zval
        FROM keyed, (SELECT unnest(generate_series(0, 9)) AS b)
        GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, ra, rb
    """,
    doc="Z-order CLUSTERED WRITE with exact order-stat file boundaries + footer-stats skipping gates; returns the written table read back (hash = lossless round-trip incl. the Morton key).",
    tags=("lake", "ext", "scale"),
)
def lake_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write half the z-order family lacked (r10 verdict missing #2):
    `lake_zorder_stats` proves the Morton KEY, the r3 layout test proves
    sampled-boundary writes produce small rectangles — this operator is
    the production write path end-to-end, driver-checked:

    1. Morton-key every lineitem row (`zorder_key` — JVM bit arithmetic);
    2. EXACT file boundaries via the `range_partition_boundaries`
       construction (setops.py:1056) applied to the z-key — order-stat
       cuts over the distinct-z domain, never sampled, so file sizes
       cannot skew (`zorder_exact_file_ids`);
    3. one shuffle on the file id, sort by z within each file, hive-style
       `partitionBy` so each file id is exactly one parquet file;
    4. a LOUD skipping gate from parquet footer min/max alone: selective
       predicates on EITHER key must overlap a bounded fraction of files
       (single-key clustering would fail the second key's probe at ~100%
       overlap) — the WAP-style in-operator rehearsal, re-measured every
       run (tests/test_r11_new_ops.py pins the fractions tighter);
    5. return the table READ BACK from the written files, Morton key
       included — the oracle recomputes every row + zval from scratch in
       SQL, so a hash match proves the clustered write is lossless.

    Scale: the write is one shuffle + per-file local sort; the boundary
    planning is distinct-z-bounded (<= 2^20 values regardless of table
    size); the gate reads footers only. At 100 TB this layout turns any
    two-key analytic scan into an O(files-overlapping-the-box) read —
    the single biggest scan-cost lever the lake layer has.
    """
    import atexit
    import shutil as _shutil
    import tempfile as _tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    maxes = li.agg(
        F.max("l_partkey").alias("max_p"), F.max("l_suppkey").alias("max_s")
    )
    mx = maxes.first()
    max_p, max_s = int(mx["max_p"]), int(mx["max_s"])
    keyed = (
        li.crossJoin(F.broadcast(maxes))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            zorder_key(
                F.col("l_partkey"), F.col("l_suppkey"), F.col("max_p"), F.col("max_s")
            ).alias("zval"),
        )
        # one materialization feeds boundary planning AND the write
        .localCheckpoint(eager=True)
    )
    fid, _cuts = zorder_exact_file_ids(spark, keyed, "zval", ZW_FILES)
    # Versioned per-invocation publish dir, atexit-reclaimed — the lazy
    # read returned below stays valid for the process lifetime (the
    # stream_exactly_once_merge_restart publish discipline).
    out_dir = _tempfile.mkdtemp(prefix="sg_zorder_write_")
    atexit.register(_shutil.rmtree, out_dir, ignore_errors=True)
    (
        keyed.withColumn("_fid", fid)
        .repartition(ZW_FILES, "_fid")
        .sortWithinPartitions("_fid", "zval")
        .write.mode("overwrite")
        .partitionBy("_fid")
        .parquet(out_dir)
    )
    _zorder_skipping_gate(out_dir, max_p, max_s)
    return spark.read.parquet(out_dir).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "zval"
    )


ZR_INGEST_FILES = 4  # the unclustered accretion is staged as this many files


@register(
    "lake_zorder_recluster",
    oracle="""
        WITH z AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
                 (SELECT max(l_partkey) FROM lineitem) AS max_p,
                 (SELECT max(l_suppkey) FROM lineitem) AS max_s
          FROM lineitem
        ),
        keyed AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
                 least(CAST(floor(l_partkey * 1023.0 / max_p) AS BIGINT), 1023) AS ra,
                 least(CAST(floor(l_suppkey * 1023.0 / max_s) AS BIGINT), 1023) AS rb
          FROM z
        )
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
               bit_or((ra >> b & 1) << (2 * b)) | bit_or((rb >> b & 1) << (2 * b + 1)) AS zval
        FROM keyed, (SELECT unnest(generate_series(0, 9)) AS b)
        GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, ra, rb
    """,
    doc="Incremental OPTIMIZE ZORDER: unclustered ingest files merged into the clustered table by DYNAMIC-OVERWRITING only the touched z-partitions; untouched files byte-stable (gated); final table hash-checked.",
    tags=("lake", "ext", "scale"),
)
def lake_zorder_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the z-order LIFECYCLE, symmetric to the band/IVF append
    cycles: a clustered table accretes UNCLUSTERED ingest files (the
    streaming-sink shape — each new file spans ~the whole key plane, so
    footer stats prune nothing on it), and an incremental OPTIMIZE
    folds them in WITHOUT rewriting the table:

    1. base = lineitem minus the 'new keys' slice (l_partkey in the top
       fifth of the domain — the realistic new-entity-arrival pattern);
       z-write it with the ORIGINAL exact boundaries (kept, the table's
       clustering spec);
    2. the slice lands as {ZR_INGEST_FILES} plain unsorted files;
       gate A (vacuity guard): those files' footer rectangles must be
       WIDE on l_suppkey (nothing to skip) — otherwise this rehearsal
       proves nothing;
    3. RECLUSTER: each ingest row's file id comes from the stored
       boundary cuts (a scan-stage expression — no re-planning); only
       the TOUCHED z-partitions are read back, merged, re-sorted, and
       replaced via ``partitionOverwriteMode=dynamic``; gate B: the
       untouched partition set is NON-EMPTY and its files byte-stable
       (path+size) — the range-localized slice touches only the fids
       covering its z-region, which is the entire point of incremental
       OPTIMIZE (Delta/Iceberg rewrite only affected files);
    4. gate C: the merged table passes the full skipping gate again;
    5. return the table READ BACK — the oracle recomputes all rows +
       the Morton key from scratch, so the hash proves the recluster
       lost and duplicated nothing.

    Scale: the rewrite cost is ∝ (ingest rows + rows in touched
    partitions), never ∝ table size; at 100 TB this is the difference
    between OPTIMIZE as routine maintenance and OPTIMIZE as an outage.
    """
    import atexit
    import shutil as _shutil
    import tempfile as _tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    maxes = li.agg(
        F.max("l_partkey").alias("max_p"), F.max("l_suppkey").alias("max_s")
    )
    mx = maxes.first()
    max_p, max_s = int(mx["max_p"]), int(mx["max_s"])
    # z keys are computed against the FULL-table maxes on both sides so
    # base and ingest rows share one key space (and the oracle's)
    keyed = (
        li.crossJoin(F.broadcast(maxes))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            zorder_key(
                F.col("l_partkey"), F.col("l_suppkey"), F.col("max_p"), F.col("max_s")
            ).alias("zval"),
        )
        .localCheckpoint(eager=True)
    )
    new_keys = F.col("l_partkey") > int(max_p * 0.8)
    base = keyed.filter(~new_keys)
    ingest_rows = keyed.filter(new_keys)

    root = _tempfile.mkdtemp(prefix="sg_zorder_recluster_")
    atexit.register(_shutil.rmtree, root, ignore_errors=True)
    table_dir = _os.path.join(root, "table")
    ingest_dir = _os.path.join(root, "ingest")

    # 1. clustered base write under the table's boundary spec
    fid, cuts = zorder_exact_file_ids(spark, base, "zval", ZW_FILES)
    (
        base.withColumn("_fid", fid)
        .repartition(ZW_FILES, "_fid")
        .sortWithinPartitions("_fid", "zval")
        .write.mode("overwrite")
        .partitionBy("_fid")
        .parquet(table_dir)
    )
    # 2. unclustered accretion: plain unsorted files
    ingest_rows.repartition(ZR_INGEST_FILES).write.mode("overwrite").parquet(
        ingest_dir
    )
    # gate A (vacuity): every ingest file must be WIDE on l_suppkey
    # RELATIVE TO THE SLICE'S OWN RANGE — round-robin staging mixes the
    # slice's rows into every file, so footer stats cannot prune them;
    # if an ingest file ever reads clustered, the rehearsal is
    # meaningless and must say so. (Measured against the slice's range,
    # not max_s: a range-localized slice — e.g. the scale harness's
    # key-shifted replicas — legitimately occupies a band of the full
    # domain while still being unclustered WITHIN it.)
    import pyarrow.parquet as _pq

    ing_span = ingest_rows.agg(
        F.min("l_suppkey").alias("lo"), F.max("l_suppkey").alias("hi")
    ).first()
    span = int(ing_span["hi"]) - int(ing_span["lo"])
    for fp in _glob.glob(_os.path.join(ingest_dir, "*.parquet")):
        md = _pq.read_metadata(fp)
        if md.num_rows == 0:
            continue
        names = [
            md.row_group(0).column(j).path_in_schema
            for j in range(md.row_group(0).num_columns)
        ]
        js = names.index("l_suppkey")
        lo = min(md.row_group(i).column(js).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(js).statistics.max for i in range(md.num_row_groups))
        if span > 0 and (hi - lo) < 0.5 * span:
            raise RuntimeError(
                f"lake_zorder_recluster: ingest file {fp} is narrow on "
                f"l_suppkey [{lo},{hi}] vs slice span {span} — the "
                "unclustered-accretion rehearsal is vacuous"
            )

    # 3. incremental recluster: route ingest rows to their fids via the
    # STORED cuts, read back only the touched partitions, merge, and
    # dynamic-overwrite those partitions alone.
    ing = spark.read.parquet(ingest_dir)
    ing_fid = F.lit(0)
    for b in cuts:
        ing_fid = ing_fid + F.when(F.col("zval") > F.lit(b), 1).otherwise(0)
    ing = ing.withColumn("_fid", ing_fid.cast("int"))
    touched = sorted(r["_fid"] for r in ing.select("_fid").distinct().collect())
    if not touched:
        raise RuntimeError("lake_zorder_recluster: empty ingest slice")
    before = {
        p: _os.path.getsize(p)
        for p in _glob.glob(_os.path.join(table_dir, "**", "*.parquet"), recursive=True)
    }
    untouched_files = {
        p: sz
        for p, sz in before.items()
        if not any(f"_fid={t}/" in p or f"_fid={t}{_os.sep}" in p for t in touched)
    }
    if not untouched_files:
        raise RuntimeError(
            "lake_zorder_recluster: every partition touched — the "
            "incremental-rewrite claim is vacuous (slice not range-local?)"
        )
    old_touched = spark.read.parquet(table_dir).filter(
        F.col("_fid").isin(touched)
    )
    # pin the merge input BEFORE the write: the dynamic overwrite replaces
    # the very partitions the lazy read references (Spark refuses a
    # self-overwriting plan; the checkpoint also bounds the rewrite input
    # to touched-partition rows, the incremental cost claim)
    merged = old_touched.unionByName(ing).localCheckpoint(eager=True)
    (
        merged.repartition(len(touched), "_fid")
        .sortWithinPartitions("_fid", "zval")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_fid")
        .parquet(table_dir)
    )
    # gate B: untouched partition files byte-stable
    after = {
        p: _os.path.getsize(p) if _os.path.exists(p) else None
        for p in untouched_files
    }
    changed = [p for p, sz in untouched_files.items() if after[p] != sz]
    if changed:
        raise RuntimeError(
            f"lake_zorder_recluster rewrote untouched partitions: {changed[:3]}"
        )
    # gate C: the merged table skips like a clustered table again
    _zorder_skipping_gate(table_dir, max_p, max_s)
    return spark.read.parquet(table_dir).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "zval"
    )


# ---------------------------------------------------------------------------
# [EXT r3] Snapshot-manifest table format: append / delete / time travel
# ---------------------------------------------------------------------------
# The core mechanic of Iceberg/Delta, built from plain parquet + JSON so
# the engine-side behaviors — snapshot isolation, time travel, immutable
# data files — are demonstrable without a table-format library (none is
# installed here). A snapshot is a JSON manifest listing the exact data
# files that make up one table version; data files are never mutated, so
# reading an old manifest IS time travel, and a writer that crashes before
# publishing its manifest leaves readers untouched (atomic rename).
# Production formats add file-level column stats to prune which files a
# delete must rewrite; here deletes rewrite the live set wholesale, which
# preserves the semantics at test scale and is documented as the delta.

import glob as _glob
import json as _json
import os as _os

SNAP_ROOT = "/tmp/ddl_spark_snapshot_v2"  # v2: history gained the v4 update commit
SNAP_DELETE_BELOW = 50_000.0  # v3 deletes orders cheaper than this
SNAP_UPDATE_FACTOR = 1.05  # v4 uplifts 1-URGENT order prices by 5%


def _snap_write_data(df: DataFrame, root: str, tag: str) -> list[str]:
    """Write immutable data files under data/<tag>/; return ROOT-RELATIVE
    paths (manifests must survive the staging-dir rename at publish)."""
    out = _os.path.join(root, "data", tag)
    df.write.mode("overwrite").parquet(out)
    return sorted(
        _os.path.relpath(f, root) for f in _glob.glob(_os.path.join(out, "*.parquet"))
    )


def _snap_commit(root: str, version: int, files: list[str], op: str) -> None:
    """Publish a snapshot manifest atomically (tmp file + rename)."""
    manifest = {"version": version, "operation": op, "files": files}
    path = _os.path.join(root, f"snap_v{version}.json")
    tmp = f"{path}.tmp.{_os.getpid()}"
    with open(tmp, "w") as f:
        _json.dump(manifest, f)
    _os.rename(tmp, path)


def read_snapshot(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Time travel: a table version is exactly its manifest's file list."""
    with open(_os.path.join(root, f"snap_v{version}.json")) as f:
        manifest = _json.load(f)
    return spark.read.parquet(*(_os.path.join(root, f) for f in manifest["files"]))


def ensure_snapshot_table(spark: SparkSession, sf_dir: str, base: str = SNAP_ROOT) -> str:
    """Build the three-version orders table once per fixture generation
    (`build_once` under an orders-keyed root):

    - v1 append: even-keyed orders
    - v2 append: the odd-keyed rest (v1's files are REUSED, not rewritten)
    - v3 delete: copy-on-write removal of orders below SNAP_DELETE_BELOW
    - v4 update: copy-on-write 5% price uplift on 1-URGENT orders
    """

    def write(stage: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        f1 = _snap_write_data(orders.filter(F.col("o_orderkey") % 2 == 0), stage, "add_even")
        _snap_commit(stage, 1, f1, "append")
        f2 = _snap_write_data(orders.filter(F.col("o_orderkey") % 2 == 1), stage, "add_odd")
        _snap_commit(stage, 2, f1 + f2, "append")  # append = parent files + new
        live = spark.read.parquet(*(_os.path.join(stage, f) for f in f1 + f2)).filter(
            F.col("o_totalprice") >= SNAP_DELETE_BELOW
        )
        f3 = _snap_write_data(live, stage, "delete_cheap")
        _snap_commit(stage, 3, f3, "delete")  # copy-on-write: fresh file set
        updated = spark.read.parquet(*(_os.path.join(stage, f) for f in f3)).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                F.col("o_totalprice") * SNAP_UPDATE_FACTOR,
            ).otherwise(F.col("o_totalprice")),
        )
        f4 = _snap_write_data(updated, stage, "update_urgent")
        _snap_commit(stage, 4, f4, "update")  # copy-on-write: fresh file set

    return build_once(keyed_root(base, sf_dir, "orders"), ".complete", write)


@register(
    "lake_snapshot_time_travel",
    oracle=f"""
        SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(o_totalprice), 2) AS total
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2) FROM orders
        UNION ALL
        SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2)
        FROM orders WHERE o_totalprice >= {SNAP_DELETE_BELOW}
    """,
    doc="Manifest-based snapshot table: append/append/delete history, each version read as-of.",
    tags=("lake", "snapshot", "cdc", "ext", "scale"),
)
def lake_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read all three versions of the snapshot table AS OF their commit —
    the file-level time travel that SCD2 (`scd2_as_of_lookup`) provides at
    row level. The v1/v2 read proves appended files compose without
    rewriting history; the v3 read proves the delete's copy-on-write file
    set excludes exactly the deleted rows. Each version's numbers must
    hash-match SQL over the source table.

    Scale shape: manifests list files, so planning cost is O(files in
    version), reads are ordinary pruned parquet scans, and concurrent
    readers of old versions are untouched by new commits (immutable data
    + atomic manifest rename).
    """
    root = ensure_snapshot_table(spark, sf_dir)
    parts = []
    for v in (1, 2, 3):
        parts.append(
            read_snapshot(spark, root, v).agg(
                F.lit(v).cast("long").alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# [EXT r5] Change-data-capture by snapshot diff
# ---------------------------------------------------------------------------
@register(
    "cdc_snapshot_diff",
    oracle=f"""
        WITH v1 AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
        ),
        v4 AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice * {SNAP_UPDATE_FACTOR}
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_totalprice >= {SNAP_DELETE_BELOW}
        ),
        d AS (
          SELECT coalesce(v1.o_orderkey, v4.o_orderkey) AS k,
                 v1.o_totalprice AS old_p, v4.o_totalprice AS new_p
          FROM v1 FULL JOIN v4 ON v1.o_orderkey = v4.o_orderkey
        )
        SELECT CASE WHEN old_p IS NULL THEN 'insert'
                    WHEN new_p IS NULL THEN 'delete'
                    WHEN old_p <> new_p THEN 'update'
                    ELSE 'unchanged' END AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               floor(sum(floor(coalesce(new_p, 0) * 10000 + 0.5)
                         - floor(coalesce(old_p, 0) * 10000 + 0.5)) / 100 + 0.5)
                 / 100 AS value_delta
        FROM d GROUP BY 1
    """,
    doc="CDC derived by diffing two snapshot versions: full-outer key join classifies insert/delete/update/unchanged; the pattern when the format records no changelog.",
    tags=("lake", "cdc", "ext", "scale"),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a change log the table format never recorded: diff snapshot
    v1 (even-keyed orders) against v4 (post-delete, post-update state) by
    a full outer join on the primary key. NULL left = insert, NULL right
    = delete, differing payload = update — the standard state-diff CDC
    fallback (Debezium snapshot mode, Delta CDF backfill) when the lake
    has immutable snapshots but no row-level changelog.

    Value delta is integer-exact: both engines floor the SAME IEEE
    doubles to cent-hundredths before summing (the v4 uplift
    ``o_totalprice * 1.05`` is computed as one double multiply on both
    sides, so the bits agree — see verify-skill notes on cross-engine
    round()).

    Scale: the diff is one hash-partitioned full outer join on the key —
    shuffle ∝ |v1| + |v4|, no skew surface beyond the key itself; output
    is four aggregate rows. At 100 TB you'd bound it further by diffing
    only partitions whose manifests changed — the manifest diff is free
    (file lists), and untouched partitions can't contain changes.
    """
    root = ensure_snapshot_table(spark, sf_dir)
    v1 = read_snapshot(spark, root, 1).select("o_orderkey", "o_totalprice")
    v4 = read_snapshot(spark, root, 4).select("o_orderkey", "o_totalprice")
    d = v1.alias("a").join(
        v4.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    ).select(
        F.col("a.o_totalprice").alias("old_p"),
        F.col("b.o_totalprice").alias("new_p"),
    )
    change = (
        F.when(F.col("old_p").isNull(), F.lit("insert"))
        .when(F.col("new_p").isNull(), F.lit("delete"))
        .when(F.col("old_p") != F.col("new_p"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    cents = lambda c: F.floor(F.coalesce(c, F.lit(0.0)) * 10000 + 0.5).cast("long")  # noqa: E731
    return d.groupBy(change.alias("change_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.floor(F.sum(cents(F.col("new_p")) - cents(F.col("old_p"))) / 100 + 0.5) / 100).alias(
            "value_delta"
        ),
    )


# ---------------------------------------------------------------------------
# [EXT r5] VACUUM: expire old snapshot versions and delete the data files
# no retained manifest references (the retention half of table
# maintenance, paired with lake_compact_small_files).
# ---------------------------------------------------------------------------
VACUUM_RETAIN_FROM = 3  # expire v1/v2; v3+ stay time-travelable


def vacuum_snapshots(root: str, retain_from: int) -> list[str]:
    """Expire every manifest below ``retain_from``, then delete each data
    file referenced by NO retained manifest. Returns the removed
    root-relative file paths. The live set is computed from manifests
    alone (file lists — no data scan), so vacuum planning is O(files),
    and because commits are copy-on-write, a file shared by a retained
    version is never touched."""
    live: set[str] = set()
    expired: list[str] = []
    for path in _glob.glob(_os.path.join(root, "snap_v*.json")):
        with open(path) as f:
            m = _json.load(f)
        if m["version"] >= retain_from:
            live.update(m["files"])
        else:
            expired.append(path)
    removed = []
    for f in _glob.glob(_os.path.join(root, "data", "*", "*.parquet")):
        rel = _os.path.relpath(f, root)
        if rel not in live:
            _os.remove(f)
            removed.append(rel)
    for path in expired:
        _os.remove(path)
    return sorted(removed)


@register(
    "lake_vacuum_expire",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor(sum(floor((CASE WHEN o_orderpriority = '1-URGENT'
                                     THEN o_totalprice * {SNAP_UPDATE_FACTOR}
                                     ELSE o_totalprice END) * 10000 + 0.5))
                     / 100 + 0.5) / 100 AS total_price
        FROM orders
        WHERE o_totalprice >= {SNAP_DELETE_BELOW}
        GROUP BY o_orderpriority
    """,
    doc="VACUUM/expire-snapshots: retention drops v1/v2 manifests and every file only they reference (manifest set-difference, no data scan); the surviving current version still answers exactly.",
    tags=("lake", "snapshot", "ext"),
)
def lake_vacuum_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run VACUUM on a clone of the snapshot table: expire versions 1-2,
    physically delete the files no retained manifest references, and
    answer the priority rollup from the surviving current version (v4 —
    post-delete, post-update). The hash-match proves retention removed
    only garbage: the current version is bit-identical to the oracle's
    reconstruction from the raw table.

    The live-file set is a set-difference over manifests — planning cost
    O(total files), zero data scanned — and copy-on-write commits make
    the rule exact: a file is garbage iff no retained manifest lists it.
    At 100 TB, vacuum is metadata work followed by parallel deletes;
    tests/test_lake.py pins that retained versions stay readable, expired
    versions are gone, and the shared fixture is untouched (`fork`). The
    uplifted price is the same IEEE multiply on both engines, then
    cent-exact integer aggregation (cdc_snapshot_diff discipline).
    """
    with fork(ensure_snapshot_table(spark, sf_dir)) as clone:
        vacuum_snapshots(clone, VACUUM_RETAIN_FROM)
        out = (
            read_snapshot(spark, clone, 4)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                (
                    F.floor(
                        F.sum(F.floor(F.col("o_totalprice") * 10000 + 0.5).cast("long"))
                        / 100
                        + 0.5
                    )
                    / 100
                ).alias("total_price"),
            )
        )
        return local_frame(spark, out.collect(), out.schema)


# ---------------------------------------------------------------------------
# [EXT r5] Merge-on-read deletes: position delete vectors (Iceberg v2 /
# Delta DV shape) — a delete writes a tiny (file, row_index) sidecar, the
# base files are never rewritten, readers overlay with an anti join.
# ---------------------------------------------------------------------------
DV_ROOT = "/tmp/ddl_spark_dv_v1"
DV_DELETE_STATUS = "F"
DV_DELETE_BELOW = 100_000.0
DV_BASE_FILES = 8


def ensure_dv_table(spark: SparkSession, sf_dir: str, base: str = DV_ROOT) -> str:
    """Write the immutable base files once per fixture generation and
    publish the position-delete sidecar beside them (`build_once` under
    an orders-keyed root)."""

    def write(stage: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        orders.repartition(DV_BASE_FILES).write.mode("overwrite").parquet(
            _os.path.join(stage, "base")
        )
        # The "DELETE" commit: scan base with file/row-position metadata,
        # persist ONLY the positions of matching rows. Base files untouched.
        hit = (
            spark.read.parquet(_os.path.join(stage, "base"))
            .filter(
                (F.col("o_orderstatus") == DV_DELETE_STATUS)
                & (F.col("o_totalprice") < DV_DELETE_BELOW)
            )
            .select(
                F.col("_metadata.file_name").alias("file_name"),
                F.col("_metadata.row_index").alias("row_index"),
            )
        )
        hit.coalesce(1).write.mode("overwrite").parquet(_os.path.join(stage, "dv"))

    return build_once(keyed_root(base, sf_dir, "orders"), ".complete", write)


@register(
    "lake_deletion_vectors",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_live,
               floor(sum(floor(o_totalprice * 10000 + 0.5)) / 100 + 0.5) / 100
                 AS live_total
        FROM orders
        WHERE NOT (o_orderstatus = '{DV_DELETE_STATUS}'
                   AND o_totalprice < {DV_DELETE_BELOW})
    """,
    doc="Merge-on-read deletes: (file, row_index) delete-vector sidecar broadcast-anti-joined over the untouched base files at read time.",
    tags=("lake", "ext", "scale"),
)
def lake_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-delete overlay — the Iceberg-v2/Delta deletion-vector
    shape, Spark-first: the delete commit wrote a (file_name, row_index)
    sidecar via the parquet ``_metadata`` columns; this read overlays it
    with a BROADCAST anti join keyed on physical position, so deleting k
    rows from a 100 TB table costs O(k) sidecar bytes instead of
    rewriting every touched file (copy-on-write's cost —
    ``lake_snapshot_time_travel`` v3 shows that alternative). Readers pay
    one broadcast anti join until maintenance compacts the DV away.

    tests/test_r5_new_ops.py pins the contract: base files byte-identical
    before/after the delete commit, DV row count == deleted rows, and a
    BroadcastHashJoin LeftAnti in the executed plan.
    """
    root = ensure_dv_table(spark, sf_dir)
    base = spark.read.parquet(_os.path.join(root, "base")).select(
        "o_totalprice",
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    dv = spark.read.parquet(_os.path.join(root, "dv"))
    live = base.join(F.broadcast(dv), ["file_name", "row_index"], "left_anti")
    return live.agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        (
            F.floor(
                F.sum(F.floor(F.col("o_totalprice") * 10000 + 0.5).cast("long")) / 100
                + 0.5
            )
            / 100
        ).alias("live_total"),
    )


# ---------------------------------------------------------------------------
# [EXT r4] Bucketed tables: the co-located fact-fact join (no join shuffle)
# ---------------------------------------------------------------------------
BUCKET_ROOT = "/tmp/ddl_spark_bucketed_v1"
N_BUCKETS = 32

# Column DDL for re-registering the bucketed layouts in a fresh session
# (bucket metadata lives in the catalog, not the files; an external
# CREATE TABLE ... CLUSTERED BY over the existing files restores it).
_BUCKET_DDL = {
    "bk_lineitem": (
        "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
        "l_orderkey",
    ),
    "bk_orders": ("o_orderkey BIGINT, o_orderpriority STRING", "o_orderkey"),
}


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str, base: str = BUCKET_ROOT) -> str:
    """Write lineitem and orders bucketed on the join key once per fixture
    generation (`build_once` under an orders+lineitem-keyed root).

    This is the layout investment that pays on every subsequent fact-fact
    join: both sides pre-hashed into N_BUCKETS files on the key, so the
    join needs NO exchange on either side — at 100 TB the single biggest
    shuffle in a star-schema workload simply disappears. saveAsTable is
    required at write time (bucket metadata is catalog-side); the
    temporary write-table is dropped immediately, files are external.
    """

    def write(stage: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        for df, name, key in ((li, "bk_lineitem", "l_orderkey"), (o, "bk_orders", "o_orderkey")):
            tmp_tbl = f"{name}_w{_os.getpid()}"
            spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
            (
                df.write.mode("overwrite")
                .bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .format("parquet")
                .option("path", _os.path.join(stage, name))
                .saveAsTable(tmp_tbl)
            )
            spark.sql(f"DROP TABLE {tmp_tbl}")  # external table: files persist

    return build_once(keyed_root(base, sf_dir, "orders", "lineitem"), ".complete", write)


def register_bucketed_tables(spark: SparkSession, root: str) -> None:
    """(Re-)register the bucketed layouts in this session's catalog,
    pointing at the current fixture generation's files."""
    for name, (cols, key) in _BUCKET_DDL.items():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"""
            CREATE TABLE {name} ({cols})
            USING PARQUET
            CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS
            LOCATION '{_os.path.join(root, name)}'
            """
        )


@register(
    "bucketed_join_revenue",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               floor(sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)) / 100 + 0.5) / 100 AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    doc="Fact-fact join over bucketed layouts: both sides pre-hashed into co-located buckets, so the join runs with NO exchange on the key (plan-gated).",
    tags=("lake", "join", "ext", "scale"),
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority computed from BUCKETED copies of
    lineitem and orders — the repeated-join amortization pattern: pay one
    clustered write, then every subsequent join on the bucket key skips
    both shuffle exchanges (tests/test_plans.py asserts the executed plan
    has no Exchange on l_orderkey/o_orderkey even with broadcast disabled).

    At 100 TB this is THE star-schema lever: a fact-fact join's exchange
    is the largest single data movement in the workload, and bucketing
    both writes on the key makes it disappear for every downstream
    consumer. Only the final (priority, sums) rows — five of them —
    shuffle for the aggregation.
    """
    root = ensure_bucketed_tables(spark, sf_dir)
    register_bucketed_tables(spark, root)
    li = spark.table("bk_lineitem")
    o = spark.table("bk_orders")
    # Integer-exact revenue (events_value_interpolate fix pattern, r4
    # ADVICE): round(sum(double), 2) splits on .xx5 boundaries across
    # engines because accumulation order differs; accumulate exact
    # cent-hundredth BIGINTs and apply one floor-based half-up at the end.
    scaled = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            (F.floor(F.sum(scaled) / 100 + 0.5) / 100).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r4] Schema evolution: old and new file generations in one table
# ---------------------------------------------------------------------------
@register(
    "lake_schema_evolution",
    oracle="""
        WITH unified AS (
          SELECT o_orderkey, o_totalprice, NULL AS o_channel
          FROM orders WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT o_orderkey, o_totalprice,
                 CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 'expedited' ELSE 'standard' END AS o_channel
          FROM orders WHERE o_orderkey % 2 = 1
        )
        SELECT coalesce(o_channel, 'unknown') AS channel,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM unified GROUP BY 1
    """,
    doc="Schema evolution read: a column added mid-table; mergeSchema unifies old files (column absent -> NULL) with new ones.",
    tags=("lake", "ext"),
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The add-a-column lifecycle every long-lived table goes through:
    generation 1 files lack `o_channel`, generation 2 files carry it.
    A mergeSchema read unifies both generations — old rows surface the new
    column as NULL, no rewrite of historical files (the cheap half of
    schema evolution; renames/drops need a table format's column-id
    mapping, which is the documented delta vs Iceberg/Delta).

    Scale: mergeSchema's cost is footer-only schema union at planning
    time; the data files are read exactly once each, column-pruned as
    usual. The aggregation output is bounded (3 channel values).
    """
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_evo_", ignore_cleanup_errors=True) as base:
        o = load_table(spark, sf_dir, "orders")
        gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
        gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedited"
            )
            .otherwise("standard")
            .alias("o_channel"),
        )
        gen1.write.mode("overwrite").parquet(_os.path.join(base, "g=1"))
        gen2.write.mode("overwrite").parquet(_os.path.join(base, "g=2"))
        unified = spark.read.option("mergeSchema", "true").parquet(
            _os.path.join(base, "g=1"), _os.path.join(base, "g=2")
        )
        out = (
            unified.groupBy(
                F.coalesce(F.col("o_channel"), F.lit("unknown")).alias("channel")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
        )
        # Materialize before the temp dir is removed (bounded: 3 rows).
        return local_frame(spark, out.collect(), out.schema)


@register(
    "lake_dynamic_partition_overwrite",
    oracle="""
        WITH final AS (
          SELECT o_orderkey, o_totalprice,
                 date_trunc('month', o_orderdate)::DATE AS order_month
          FROM orders
          WHERE date_trunc('month', o_orderdate)::DATE <> DATE '1995-03-01'
          UNION ALL
          SELECT o_orderkey, o_totalprice * 0.9 AS o_totalprice,
                 date_trunc('month', o_orderdate)::DATE AS order_month
          FROM orders
          WHERE date_trunc('month', o_orderdate)::DATE = DATE '1995-03-01'
        )
        SELECT order_month,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor(sum(floor(o_totalprice * 10000 + 0.5)) / 100 + 0.5) / 100
                 AS total
        FROM final GROUP BY 1
    """,
    doc="Dynamic partition overwrite: a restatement batch replaces ONLY the partitions it touches; untouched partition files survive byte-identical.",
    tags=("lake", "ext"),
)
def lake_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The restatement lifecycle on a partitioned lake table: a corrected
    batch for ONE month (here 1995-03, restated at 90% of list price)
    replaces exactly that month's partition while every other partition's
    files survive untouched — `partitionOverwriteMode=dynamic`, the
    INSERT OVERWRITE semantics Hive/Iceberg/Delta users expect. STATIC
    mode (Spark's default) would instead truncate the WHOLE table before
    writing the one-month batch — the classic data-loss foot-gun this
    operator exists to demonstrate; tests/test_lake.py pins both modes
    plus untouched-partition file identity (same file names after the
    restatement write).

    Scale: the overwrite job's cost is the restated batch, never the
    table — at 100 TB a one-month restatement rewrites one month of
    files; partition pruning serves the other months from their original
    files. The final-state aggregate is the oracle-checked proof that
    exactly the touched month changed.
    """
    import tempfile

    with tempfile.TemporaryDirectory(prefix="sg_dpo_", ignore_cleanup_errors=True) as base:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        )
        if o.limit(1).count() == 0:
            # Fuzz corpora include empty orders: a partitioned write of an
            # empty frame produces no files, so the read-back would fail
            # schema inference; the oracle emits 0 rows — match it directly.
            return local_frame(spark, [], "order_month date, n_orders long, total double")
        o.write.mode("overwrite").partitionBy("order_month").parquet(base)

        restated = o.filter(F.col("order_month") == F.lit("1995-03-01").cast("date")).select(
            "o_orderkey",
            (F.col("o_totalprice") * 0.9).alias("o_totalprice"),
            "order_month",
        )
        restated.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("order_month").parquet(base)

        final = spark.read.parquet(base)
        out = final.groupBy("order_month").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.floor(
                    F.sum(F.floor(F.col("o_totalprice") * 10000 + 0.5).cast("long")) / 100
                    + 0.5
                )
                / 100
            ).alias("total"),
        )
        # Materialize before the temp dir is removed (bounded: one row/month).
        return local_frame(spark, out.collect(), out.schema)


# ---------------------------------------------------------------------------
# [EXT r5] Dynamic partition pruning: the star-schema runtime-prune join
# ---------------------------------------------------------------------------
DPP_QUARTER = "1996-Q1"


def _dpp_star_frames(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    """Build (lazily) the DPP star join over a month-partitioned lineitem
    copy at ``base``: fact partitioned by ship_month, joined to a small
    calendar dim filtered to one quarter. Split out so tests can inspect
    the executed plan before the registered wrapper materializes it."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("ship_month"),
        "l_extendedprice",
        "l_discount",
    )
    write_partitioned(li, base, ["ship_month"])
    fact = spark.read.parquet(base)

    months = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit("1992-01-01").cast("date"),
                    F.lit("2002-12-01").cast("date"),
                    F.expr("INTERVAL 1 MONTH"),
                )
            ).alias("m")
        )
        .select(
            (F.year("m") * 100 + F.month("m")).alias("month_key"),
            F.concat(F.year("m"), F.lit("-Q"), F.quarter("m")).alias("quarter"),
        )
    )
    dim = months.filter(F.col("quarter") == DPP_QUARTER)
    return (
        fact.join(dim, fact["ship_month"] == dim["month_key"])
        .groupBy("month_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            # Cent-scaled integer accumulation: sums of doubles can straddle
            # a .xx5 rounding boundary differently per engine depending on
            # accumulation order; summing BIGINT cents is order-independent.
            (
                F.floor(
                    F.sum(
                        F.floor(
                            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                            + 0.5
                        ).cast("long")
                    )
                    / 100
                    + 0.5
                )
                / 100
            ).alias("revenue"),
        )
    )


@register(
    "lake_dpp_star_join",
    oracle=f"""
        WITH months AS (
          SELECT CAST(strftime(m, '%Y%m') AS INT) AS month_key,
                 strftime(m, '%Y') || '-Q' ||
                   CAST((CAST(strftime(m, '%m') AS INT) + 2) // 3 AS VARCHAR) AS quarter
          FROM (SELECT unnest(generate_series(DATE '1992-01-01',
                                              DATE '2002-12-01',
                                              INTERVAL 1 MONTH)) AS m)
        )
        SELECT month_key,
               CAST(count(*) AS BIGINT) AS n_items,
               floor(sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5))
                     / 100 + 0.5) / 100 AS revenue
        FROM lineitem
        JOIN months
          ON CAST(strftime(l_shipdate, '%Y%m') AS INT) = month_key
        WHERE quarter = '{DPP_QUARTER}'
        GROUP BY month_key
    """,
    doc="Dynamic partition pruning on a star join: fact partitioned by ship_month, calendar dim filtered to one quarter — the fact scan reads only the three matching month directories, decided at runtime from the broadcast dim.",
    tags=("lake", "join", "ext", "scale"),
)
def lake_dpp_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dynamic partition pruning (DPP), the read-side twin of
    the static prune in ``lake_partition_pruned_revenue``: the selective
    predicate lives on the DIM table (quarter = '1996-Q1'), not on the
    fact's partition column, so static pruning can't help — Spark reuses
    the broadcast dim as a runtime IN-filter on the fact scan's partition
    values (`dynamicpruningexpression` in PartitionFilters, plan-gated in
    tests/test_lake.py) and opens only the 3 matching month directories
    of the ~84 written.

    Scale: THE canonical 100 TB star-join pattern — a date-dim predicate
    prunes a petabyte fact table to the requested quarter before any I/O,
    with zero query rewrite. Cost is the broadcast of an 84-row dim; the
    fact side never shuffles before the partial agg. The per-call
    partitioned write is the demo fixture; a real lake table is written
    once and pruned forever.
    """
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="sg_dpp_")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        if li.limit(1).count() == 0:
            # Fuzz corpora include empty lineitem: nothing to write or prune.
            return local_frame(spark, [], "month_key int, n_items long, revenue double")
        out = _dpp_star_frames(spark, sf_dir, base)
        # Materialize before the temp lake directory is removed (bounded:
        # one row per month in the quarter).
        return local_frame(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# [EXT r6] Write-Audit-Publish (WAP): staged branch + DQ gate + atomic swap
# ---------------------------------------------------------------------------
WAP_SPLIT_LINE = 4  # l_linenumber <= 4 -> already-published base; rest -> batch


def wap_stage_audit_publish(
    spark: SparkSession, root: str, version: int, batch: DataFrame, tag: str
) -> tuple[bool, int]:
    """One WAP cycle against the manifest table at ``root``: stage the
    batch's files under data/<tag>/ (invisible — no manifest references
    them), AUDIT the staged files by reading them back, and only on a
    clean audit publish version+1 referencing prior files + the batch.
    Returns (published, latest_version).

    Audit rule here: no negative quantities and no NULL keys — the
    constraint-check shape of `dq_constraint_checks`. A failed audit
    leaves the table at the prior version; the staged files are orphans
    no reader can reach (the manifest IS the table), swept like any
    uncommitted data. This is the Iceberg/Delta WAP pattern: writers
    never mutate the readable version, auditors see the branch, publish
    is one atomic manifest rename."""
    files = _snap_write_data(batch, root, tag)
    if files:
        staged = spark.read.parquet(*(_os.path.join(root, f) for f in files))
        bad = staged.filter(
            (F.col("l_quantity") < 0) | F.col("l_orderkey").isNull()
        ).limit(1).count()
        if bad > 0:
            for f in files:  # sweep the rejected branch's orphans
                _os.remove(_os.path.join(root, f))
            return False, version
    with open(_os.path.join(root, f"snap_v{version}.json")) as f:
        prior = _json.load(f)
    _snap_commit(root, version + 1, prior["files"] + files, f"wap_publish_{tag}")
    return True, version + 1


@register(
    "lake_wap_publish",
    oracle=f"""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               floor(sum(floor(l_quantity * 10000 + 0.5)) / 100 + 0.5) / 100
                 AS total_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Write-Audit-Publish: base published as v1, a corrupted batch stages but FAILS the DQ audit (table stays at v1, no reader ever saw it), the clean batch stages, audits, publishes as v2 — final state hash-checked against base ∪ clean batch (= the whole table).",
    tags=("lake", "dq", "ext", "scale"),
)
def lake_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAP ingestion gate every production lake pipeline runs: a batch
    becomes readable ONLY after passing data-quality audit on a staged,
    manifest-invisible branch.

    Cycle exercised per call: (1) publish the base slice (l_linenumber ≤
    {WAP_SPLIT_LINE}) as v1; (2) stage the remaining slice CORRUPTED
    (negated quantities) — the audit rejects it, the manifest stays at
    v1, the branch files are swept; (3) stage the same slice clean — the
    audit passes and v2 publishes atomically. The final read must equal
    base ∪ clean batch = the ORIGINAL TABLE, which is what the oracle
    aggregates — so a leaked bad row, a lost good row, or a premature
    publish all break the hash.

    Scale: audit cost is one scan of the STAGED BATCH only (never the
    table); publish is a manifest rename (same contract as
    `lake_snapshot_time_travel` — conditional PUT on object storage).
    """
    import shutil
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    if li.limit(1).count() == 0:
        # Empty table (fuzz corpora): nothing to publish, a zero-file
        # manifest would make the final read unscannable — match the
        # oracle's 0-row aggregate directly.
        return local_frame(spark, [], "l_returnflag string, n_items long, total_qty double")
    root = tempfile.mkdtemp(prefix="sg_wap_")
    try:
        base = li.filter(F.col("l_linenumber") <= WAP_SPLIT_LINE)
        batch = li.filter(F.col("l_linenumber") > WAP_SPLIT_LINE)
        _snap_commit(root, 1, _snap_write_data(base, root, "base"), "base")
        v = 1
        # An EMPTY batch stages no files, so there is nothing for the audit
        # to reject (fuzz corpora hit this) — the corrupted-branch rehearsal
        # only makes sense when rows exist to corrupt.
        if batch.limit(1).count() > 0:
            corrupted = batch.withColumn("l_quantity", -F.abs("l_quantity") - 1)
            ok_bad, v = wap_stage_audit_publish(spark, root, v, corrupted, "bad_batch")
            # Runtime protocol gates, not debug asserts: `assert` is
            # stripped under python -O, which would let a broken audit
            # silently publish (ADVICE r6).
            if ok_bad or v != 1:
                raise RuntimeError("WAP violation: corrupted batch must fail the audit")
        ok_good, v = wap_stage_audit_publish(spark, root, v, batch, "good_batch")
        if not ok_good or v != 2:
            raise RuntimeError("WAP violation: clean batch must audit and publish as v2")
        final = read_snapshot(spark, root, v)
        out = final.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            (
                F.floor(
                    F.sum(F.floor(F.col("l_quantity") * 10000 + 0.5).cast("long")) / 100
                    + 0.5
                )
                / 100
            ).alias("total_qty"),
        )
        # Materialize before the temp root is removed (bounded: one row/flag).
        return local_frame(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# [EXT r6] RESTORE: roll the table back to an earlier version AS A NEW COMMIT
# ---------------------------------------------------------------------------
RESTORE_TO = 2  # roll back past the v3 delete and v4 update


@register(
    "lake_restore_version",
    oracle=f"""
        SELECT CAST(5 AS BIGINT) AS version,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor(sum(floor(o_totalprice * 10000 + 0.5)) / 100 + 0.5) / 100
                 AS total_price
        FROM orders
        UNION ALL
        SELECT CAST(4 AS BIGINT),
               CAST(count(*) AS BIGINT),
               floor(sum(floor((CASE WHEN o_orderpriority = '1-URGENT'
                                     THEN o_totalprice * {SNAP_UPDATE_FACTOR}
                                     ELSE o_totalprice END) * 10000 + 0.5))
                     / 100 + 0.5) / 100
        FROM orders
        WHERE o_totalprice >= {SNAP_DELETE_BELOW}
    """,
    doc="RESTORE (Delta/Iceberg rollback): commit v5 whose file list IS v2's manifest — no data movement, history intact (v4 still answers as-of), the bad delete+update undone.",
    tags=("lake", "snapshot", "ext"),
)
def lake_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll the snapshot table back to v{RESTORE_TO} as a NEW commit (v5),
    the way Delta's RESTORE and Iceberg's rollback work: the restore
    manifest simply references the old version's files — zero bytes
    rewritten, and the 'mistake' versions (v3 delete, v4 update) remain
    readable as-of for audit. Runs on a `fork` so the shared cached
    fixture is never mutated.

    The hash check proves both directions: v5 must equal the FULL orders
    table (v2's content — the delete and update undone), while v4 must
    still answer with the post-delete post-update numbers.

    Scale: restore cost is one manifest write regardless of table size —
    the whole point of manifest-versioned tables (object-store
    conditional PUT in production).
    """
    with fork(ensure_snapshot_table(spark, sf_dir)) as work:
        with open(_os.path.join(work, f"snap_v{RESTORE_TO}.json")) as f:
            target = _json.load(f)
        _snap_commit(work, 5, target["files"], f"restore_to_v{RESTORE_TO}")
        out_rows = []
        for v in (5, 4):
            agg = (
                read_snapshot(spark, work, v)
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_orders"),
                    (
                        F.floor(
                            F.sum(
                                F.floor(F.col("o_totalprice") * 10000 + 0.5).cast("long")
                            )
                            / 100
                            + 0.5
                        )
                        / 100
                    ).alias("total_price"),
                )
                .first()
            )
            out_rows.append((v, agg["n_orders"], agg["total_price"]))
        return local_frame(spark, out_rows, "version long, n_orders long, total_price double")


# ---------------------------------------------------------------------------
# [EXT r6] Shallow clone: zero-copy table fork with independent evolution
# ---------------------------------------------------------------------------
@register(
    "lake_shallow_clone_divergence",
    oracle=f"""
        SELECT 'clone_v5' AS side,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor(sum(floor((CASE WHEN o_totalprice >= {SNAP_DELETE_BELOW}
                                      AND o_orderpriority = '1-URGENT'
                                     THEN o_totalprice * {SNAP_UPDATE_FACTOR}
                                     ELSE o_totalprice END) * 10000 + 0.5))
                     / 100 + 0.5) / 100 AS total_price
        FROM orders
        UNION ALL
        SELECT 'original_v4',
               CAST(count(*) AS BIGINT),
               floor(sum(floor((CASE WHEN o_orderpriority = '1-URGENT'
                                     THEN o_totalprice * {SNAP_UPDATE_FACTOR}
                                     ELSE o_totalprice END) * 10000 + 0.5))
                     / 100 + 0.5) / 100
        FROM orders
        WHERE o_totalprice >= {SNAP_DELETE_BELOW}
    """,
    doc="Shallow clone (zero-copy fork): hardlink the snapshot table, commit v5 on the CLONE ONLY (re-appending the v3-deleted cheap orders) — original history and file set untouched, both sides hash-checked.",
    tags=("lake", "snapshot", "ext"),
)
def lake_shallow_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta/Iceberg SHALLOW CLONE semantics: a dev/test fork that shares
    every existing data file with the source (hardlinks here, metadata
    pointers on object storage — zero bytes copied) and then EVOLVES
    INDEPENDENTLY: the clone commits v5 re-appending the orders the v3
    delete removed; the original table never sees v5 and its files stay
    byte-identical (pinned in tests/test_r6_new_ops.py).

    The hash check proves both sides: the clone's v5 must equal the full
    orders table (uplift applied only to the surviving-set's 1-URGENT
    rows, re-appended cheap rows raw), while the original's v4 still
    answers with the post-delete/post-update numbers.

    Scale: clone cost is O(manifests), not O(data) — why shallow clones
    are THE pattern for staging-environment tables over petabyte lakes.
    """
    root = ensure_snapshot_table(spark, sf_dir)
    with fork(root) as work:
        cheap = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") < SNAP_DELETE_BELOW
        )
        new_files = _snap_write_data(cheap, work, "clone_readd_cheap")
        with open(_os.path.join(work, "snap_v4.json")) as f:
            v4 = _json.load(f)
        _snap_commit(work, 5, v4["files"] + new_files, "clone_append")

        def agg(df: DataFrame, side: str) -> tuple:
            row = df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                (
                    F.floor(
                        F.sum(F.floor(F.col("o_totalprice") * 10000 + 0.5).cast("long"))
                        / 100
                        + 0.5
                    )
                    / 100
                ).alias("t"),
            ).first()
            return (side, row["n"], row["t"])

        rows = [
            agg(read_snapshot(spark, work, 5), "clone_v5"),
            agg(read_snapshot(spark, root, 4), "original_v4"),
        ]
        return local_frame(spark, rows, "side string, n_orders long, total_price double")


# ---------------------------------------------------------------------------
# [EXT r7] Incremental snapshot read: consume only the files ADDED between
# two versions — the manifest-diff consumer behind downstream pipelines
# that must never rescan the table.
# ---------------------------------------------------------------------------
@register(
    "lake_incremental_read",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS price_cents
        FROM orders WHERE o_orderkey % 2 = 1
        GROUP BY o_orderpriority
    """,
    doc="Incremental consumption of a table version range (v1→v2): read ONLY the data files the newer manifest added — a manifest set-difference, zero bytes of pre-existing data touched; must hash-equal the appended slice.",
    tags=("lake", "incremental", "ext", "scale"),
)
def lake_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer half of the lake's append story (Iceberg's incremental
    scan / Delta's CDF in its simplest, append-only form): a downstream
    job that processed v1 asks "what's new through v2?" and the answer is
    the MANIFEST set-difference — file paths in v2's manifest absent from
    v1's. No data files are opened to answer the question, and only the
    delta files are scanned to process it.

    The snapshot fixture appends even-keyed orders at v1 and odd-keyed at
    v2 with v1's files REUSED (ensure_snapshot_table), so the v1→v2 delta
    is exactly the odd-keyed slice — which is what the oracle recomputes
    from the raw table.

    Scale: the manifests are KB-sized JSON regardless of table size; the
    read plan lists only |delta| files — incremental cost is proportional
    to the change, never the table. (v3/v4 are copy-on-write rewrites, so
    THEIR file diff is not row-level change data — that distinction is
    `cdc_snapshot_diff`'s job; incremental file reads apply to append
    commits, which is why this op reads v1→v2.)
    """
    root = ensure_snapshot_table(spark, sf_dir)
    with open(_os.path.join(root, "snap_v1.json")) as f:
        m1 = set(_json.load(f)["files"])
    with open(_os.path.join(root, "snap_v2.json")) as f:
        m2 = _json.load(f)["files"]
    delta = [f for f in m2 if f not in m1]
    if not delta:
        return local_frame(spark, [], "o_orderpriority string, n_orders long, price_cents long")
    df = spark.read.parquet(*(_os.path.join(root, f) for f in delta))
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("price_cents"),
    )
