"""Order statistics without a global sort: one distributed prefix sum.

A global-ORDER window (``row_number()/ntile()/sum() OVER (ORDER BY ...)``)
compiles to an ``Exchange SinglePartition`` + one sort on one task:
correct, but a serialization that grows with the row set (the r9 30x
curves measured 2.97x wall for 3x data on exactly this shape).
``prefix_sum`` produces the identical running sum with every
data-proportional pass partition-parallel:

1. ``repartitionByRange`` on the order spec, so ascending partition ids
   hold ascending key ranges (equal keys never straddle a boundary), and
   pin the partition id with one eager ``localCheckpoint`` — BOTH
   consumers (the subtotal collect and the returned plan) must see the
   same pid;
2. one aggregate collects the per-partition subtotals (<= ``RANK_PARTS``
   rows); caller totals ride the same collect (``extra``);
3. the driver prefix-sums the subtotals into per-partition offsets and
   passes them back as a literal ``create_map`` — the only serial state
   is that <= 32-entry map;
4. each partition finishes its running sums locally with a pid-local
   window, plus its offset.

Every order-statistics op runs on it: ``global_row_ranks`` (weight 1;
``row_ids_distributed``), ``ntile_frontiers`` (per-value counts;
``customer_rfm_segments``, ``quality_tiers``), and the gini / decile-lift
/ ABC-Pareto ops of ``decision_support`` (per-value counts or revenue).

``ntile_from_rank`` then turns a global rank into the exact
``ntile(k)`` bucket in closed form (first ``n mod k`` buckets hold
``n//k + 1`` rows — the ANSI ntile contract both Spark and DuckDB
implement), as a scan-stage integer expression: no window at all.

Fault tolerance (the 100 TB deployment note): the partition-id pin is
an eager ``localCheckpoint``, which stores blocks on executors WITHOUT
lineage — on a real cluster, losing an executor after the checkpoint
invalidates its blocks and FAILS THE JOB LOUDLY (it can never produce a
silently wrong sum, because both consumers read the same materialized
blocks or none). The recovery story is job restart, the same contract
as any non-replicated cache; a deployment that needs to survive
executor loss mid-query swaps ``localCheckpoint`` for a reliable
``checkpoint`` (HDFS-backed) at the cost of one distributed write.

Null contract: the order/value columns must be NON-NULL. SQL engines
disagree on NULL placement (NULLS FIRST vs LAST defaults differ), and a
NULL value collapses the frontier comparisons (`ntile_score_expr`'s
``>``/``=`` yield NULL → tile 1 regardless of direction), so
``ntile_frontiers`` raises on any NULL in ``value_col`` — counted for
free in the prefix sum's subtotal collect. Callers null-filter or
coalesce first (tokens() is null-safe; the RFM axes are
aggregate-derived, never NULL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import literal_rows

RANK_PARTS = 32  # range partitions — one per core locally, thousands on a cluster

# A tie block whose row count exceeds this routes through a per-block
# `global_row_ranks` pass (a few small distributed jobs) instead of the
# batched single-window probe: the window partitions BY VALUE, so one
# pathological value holding a constant fraction of the corpus would
# serialize its probe into one task. 4M (value, tiebreak) pairs ≈ 64 MB
# — comfortably one task; anything bigger is the skew case the r10
# docstring promised to fall back on (now automatic, r11).
TIE_BLOCK_TASK_ROWS = 4_000_000

# Test observability: count of tie blocks routed through the fallback
# since process start (tests force a tiny threshold and assert > 0).
_fallback_block_probes = 0


def prefix_sum(
    df: DataFrame,
    order_spec: list[tuple[str, bool]],
    weight: str | Column,
    out: str,
    extra: tuple[Column, ...] = (),
) -> tuple[DataFrame, tuple[int, ...]]:
    """Append ``out`` = ``sum(weight) OVER (ORDER BY order_spec)`` (the
    default RANGE frame: tied rows share one sum) to every row of ``df``
    without a single-partition sort — the module docstring's four steps.
    ``order_spec`` is [(column, ascending), ...]; ``extra`` holds
    additive aggregates (sums, counts) that ride the same subtotal
    collect, their per-partition values summed into exact totals.

    Returns ``(frame, (total, *extra_totals))`` with exact Python ints:
    they feed closed-form ntile math and loud overflow guards.
    """
    sort_cols = [
        F.col(c).asc() if asc else F.col(c).desc() for c, asc in order_spec
    ]
    w = F.col(weight) if isinstance(weight, str) else weight
    pdf = (
        df.repartitionByRange(RANK_PARTS, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin pid: both consumers must agree
    )
    stats = sorted(
        pdf.groupBy("__pid")
        .agg(F.sum(w).cast("long"), *extra)
        .collect()
    )  # bounded: one row per range partition (<= RANK_PARTS)
    run, offsets = 0, []
    for row in stats:
        offsets += [F.lit(row[0]), F.lit(run).cast("long")]
        run += int(row[1])
    totals = (run,) + tuple(
        sum(int(row[2 + i]) for row in stats) for i in range(len(extra))
    )
    off = F.lit(0)
    if offsets:
        off = F.element_at(F.create_map(*offsets), F.col("__pid"))
    wloc = Window.partitionBy("__pid").orderBy(*sort_cols)
    summed = pdf.withColumn(out, (off + F.sum(w).over(wloc)).cast("long"))
    return summed.drop("__pid"), totals


def global_row_ranks(
    spark: SparkSession,
    df: DataFrame,
    order_spec: list[tuple[str, bool]],
    rank_col: str = "rnk",
) -> tuple[DataFrame, int]:
    """Append the 1-based GLOBAL rank of every row under the total order
    ``order_spec`` ([(column, ascending), ...] — must end in a unique
    tiebreak column so the order is total): a ``prefix_sum`` of weight 1.
    Returns ``(df_with_rank, n_rows)``; ``n_rows`` is an exact Python
    int. Order columns should be NON-NULL (module docstring).
    """
    ranked, (n,) = prefix_sum(df, order_spec, F.lit(1), rank_col)
    return ranked, n


def ntile_frontiers(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    asc: bool,
    tiebreak_col: str,
    k: int,
    tie_block_task_rows: int | None = None,
) -> tuple[int, list[tuple]]:
    """Exact ``ntile(k)`` FRONTIERS of ``df`` under the total order
    (``value_col`` asc/desc, ``tiebreak_col`` asc) — the k-1 rows at
    ranks b_t = t*(n//k) + min(t, n%k) — without ranking ANY row:

    1. one map-side-combinable per-value count aggregate (the value
       domain, usually far smaller than the row set);
    2. a ``prefix_sum`` of the counts over that SLIM table;
    3. a <= k-1-row boundary probe (literal rows against the cumulative
       counts: no broadcast job);
    4. only when a boundary falls strictly INSIDE a tie block, one
       distributed rank pass over that single block to find the
       tiebreak threshold (at most k-1 such passes).

    Returns ``(n, frontiers)``; each frontier is ``(v_t, ck_t)`` where
    ``ck_t is None`` means the whole ``v_t`` block lies at-or-before the
    boundary (value-only comparison suffices). Rows scoring with
    ``ntile_score_expr`` then need ONE scan with k-1 broadcast-literal
    comparisons per axis — tile assignment is a scan-stage predicate,
    the form the 100 TB deployment wants.

    ``value_col`` must be NON-NULL (raises ValueError otherwise — see
    the module docstring); ``tiebreak_col`` must be unique per value so
    the order is total. Tie blocks larger than ``tie_block_task_rows``
    are probed with a per-block ``global_row_ranks`` pass instead of
    the shared by-value window (automatic skew fallback, r11).
    """
    global _fallback_block_probes
    if k <= 0:
        raise ValueError(f"ntile_frontiers needs k >= 1; got {k}")
    if tie_block_task_rows is None:
        # resolved at CALL time so tests (and deployments) can retune the
        # module constant and see it through the registered query paths
        tie_block_task_rows = TIE_BLOCK_TASK_ROWS
    pv = df.groupBy(value_col).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    cum, (n, n_null) = prefix_sum(
        pv,
        [(value_col, asc)],
        "__c",
        "__cum",
        # NULL detection rides the subtotal collect — zero extra jobs
        extra=(F.sum(F.when(F.col(value_col).isNull(), F.col("__c")).otherwise(0)),),
    )
    if n_null:
        raise ValueError(
            f"ntile_frontiers: {value_col} holds {n_null} NULL row(s); the "
            "frontier comparisons cannot order NULLs — filter or coalesce "
            "them first (module docstring: null contract)"
        )
    if n == 0:
        return 0, []
    q, r = divmod(n, k)
    # one boundary per tile edge t = 1..k-1 (duplicates legitimate when
    # n < k: equal frontiers are counted once per edge by the scorer)
    bounds = literal_rows([(t, t * q + min(t, r)) for t in range(1, k)], "t int, b long")
    hits = (
        cum.select("*", F.inline(bounds))
        .filter((F.col("__cum") >= F.col("b")) & (F.col("__cum") - F.col("__c") < F.col("b")))
        .select(
            "t",
            value_col,
            "__c",
            (F.col("b") - (F.col("__cum") - F.col("__c"))).alias("__j"),
        )
        .collect()
    )
    if len(hits) != k - 1:
        # explicit raise, not assert: python -O must not strip this gate
        # (a short probe would silently mis-tile every row downstream)
        raise RuntimeError(
            f"ntile_frontiers boundary probe found {len(hits)} of {k - 1}"
        )
    # Boundaries strictly inside a tie block need the j-th smallest
    # tiebreak of that block. Small blocks batch into ONE job: a window
    # partitioned BY VALUE (parallel across blocks, never a
    # SinglePartition exchange) over only the probe blocks' rows. A tie
    # block larger than `tie_block_task_rows` (a pathological value
    # holding a constant fraction of the corpus would serialize its one
    # probe window into one task) routes through a per-block
    # `global_row_ranks` pass instead — same answer, a few small
    # distributed jobs for that block (automatic skew fallback, r11).
    need = {}
    thresholds: dict[tuple, object] = {}
    for row in hits:
        v_t, c, j = row[value_col], int(row["__c"]), int(row["__j"])
        if not 0 < j < c:
            continue
        if c > tie_block_task_rows:
            _fallback_block_probes += 1
            block = df.filter(F.col(value_col) == F.lit(v_t)).select(
                value_col, tiebreak_col
            )
            ranked, n_blk = global_row_ranks(
                spark, block, [(tiebreak_col, True)], rank_col="__r"
            )
            if n_blk != c:
                raise RuntimeError(
                    f"ntile_frontiers fallback: tie block {v_t!r} ranked "
                    f"{n_blk} rows, per-value count said {c}"
                )
            got = ranked.filter(F.col("__r") == j).select(tiebreak_col).collect()
            if len(got) != 1:
                raise RuntimeError(
                    f"ntile_frontiers fallback probe for block {v_t!r} rank "
                    f"{j} returned {len(got)} rows"
                )
            thresholds[(v_t, j)] = got[0][tiebreak_col]
        else:
            need[(v_t, j)] = None
    if need:
        probes = literal_rows(
            list(need), f"__pv {df.schema[value_col].dataType.simpleString()}, __pj long"
        )
        wblk = Window.partitionBy(value_col).orderBy(F.col(tiebreak_col).asc())
        blocks = df.filter(
            F.col(value_col).isin([v for v, _ in need])
        ).select(value_col, tiebreak_col)
        found = (
            blocks.withColumn("__r", F.row_number().over(wblk))
            .select("*", F.inline(probes))
            .filter((F.col(value_col) == F.col("__pv")) & (F.col("__r") == F.col("__pj")))
            .select("__pv", "__pj", tiebreak_col)
            .collect()
        )
        thresholds.update(
            {(r["__pv"], r["__pj"]): r[tiebreak_col] for r in found}
        )
        if len(found) != len(need):
            # explicit raise, not assert: python -O must not strip this
            raise RuntimeError(
                f"ntile_frontiers tie-block probe lost a boundary: "
                f"{len(found)} of {len(need)} resolved"
            )
    frontiers = []
    for row in sorted(hits, key=lambda r: r["t"]):
        v_t, c, j = row[value_col], int(row["__c"]), int(row["__j"])
        if j >= c:
            # boundary at the END of the tie block: every v_t row is
            # at-or-before it, so the value comparison alone decides
            frontiers.append((v_t, None))
        else:
            frontiers.append((v_t, thresholds[(v_t, j)]))
    return n, frontiers


def ntile_score_expr(
    value_col: str, asc: bool, tiebreak_col: str, frontiers: list[tuple]
) -> Column:
    """The exact ntile bucket of a row given its axis's frontiers:
    1 + the number of frontiers the row sorts strictly AFTER. Pure
    scan-stage comparisons against broadcast literals — no shuffle, no
    window, no rank. ``value_col`` must be NON-NULL (a NULL collapses
    every comparison to NULL → tile 1 regardless of direction;
    ``ntile_frontiers`` raises before frontiers for such data exist)."""
    expr = F.lit(1).cast("long")
    for v_t, ck in frontiers:
        beyond_val = (
            F.col(value_col) > F.lit(v_t)
            if asc
            else F.col(value_col) < F.lit(v_t)
        )
        if ck is None:
            after = beyond_val
        else:
            after = beyond_val | (
                (F.col(value_col) == F.lit(v_t))
                & (F.col(tiebreak_col) > F.lit(ck))
            )
        expr = expr + F.when(after, 1).otherwise(0)
    return expr.cast("long")


def ntile_from_rank(rank_col: str, n: int, k: int) -> Column:
    """The exact ``ntile(k)`` bucket of global rank ``rank_col`` over
    ``n`` rows, in closed form: with ``q, r = divmod(n, k)`` the first
    ``r`` buckets hold ``q + 1`` rows and the rest hold ``q`` (the ANSI
    contract; Spark and DuckDB agree). Pure integer expression — ``div``
    truncation equals floor because every operand is non-negative.
    """
    if n < 0 or k <= 0:
        raise ValueError(f"ntile_from_rank needs n >= 0, k >= 1; got {n}, {k}")
    q, r = divmod(n, k)
    if q == 0:
        # n < k: each row is its own bucket
        return F.col(rank_col).cast("long")
    cut = r * (q + 1)  # last rank inside the fat buckets
    return (
        F.when(
            F.col(rank_col) <= F.lit(cut),
            F.expr(f"({rank_col} - 1) div {q + 1}") + F.lit(1),
        )
        .otherwise(
            F.expr(f"({rank_col} - 1 - {cut}) div {q}") + F.lit(r + 1)
        )
        .cast("long")
    )
