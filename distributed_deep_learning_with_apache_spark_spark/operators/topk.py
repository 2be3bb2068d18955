"""Window functions: grouped top-k/bottom-k (the reference's flagship query
shape), running aggregates, lag/lead.

Reference parity: W1 — per-digit best-5/worst-5 by reconstruction-error
score (`MNISTAnomalyDetector.java:201-217`): sort within group, take head
and tail. Here realized as rank windows (`row_number`), which Spark executes
as a single shuffle on the partition key + in-partition sort — no driver
collection, unlike the reference's `Collections.sort` per bucket.

Scale posture: a window over a skewed group key concentrates one group on
one task. For top-k specifically the fix at 100 TB is pre-aggregation:
salt → per-salt top-k → global top-k merge (implemented in
``grouped_topk_salted`` with identical semantics, used by bench).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table, local_frame


# ---------------------------------------------------------------------------
# W1: grouped best-k / worst-k in one pass (two rank windows over one shuffle)
# ---------------------------------------------------------------------------
@register(
    "grouped_best_worst_orders",
    oracle="""
        SELECT * FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_best,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_worst
          FROM orders
        )
        WHERE rn_best <= 5 OR rn_worst <= 5
    """,
    tags=("window", "topk"),
    bench=True,
)
def grouped_best_worst_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: per group, 5 lowest and 5 highest by score, one shuffle.

    Mirrors MNISTAnomalyDetector.java:201-217 (per-digit best/worst 5 by
    score) with orders-per-customer standing in for examples-per-digit.
    Both rank windows share the same partition key so Catalyst plans a
    single exchange + sort.
    """
    o = load_table(spark, sf_dir, "orders")
    by = Window.partitionBy("o_custkey")
    asc = by.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    desc = by.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").desc())
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(asc).alias("rn_best"),
            F.row_number().over(desc).alias("rn_worst"),
        )
        .filter((F.col("rn_best") <= 5) | (F.col("rn_worst") <= 5))
    )


# ---------------------------------------------------------------------------
# W1 at scale: salted grouped top-k (pre-aggregate per salt, then merge)
# ---------------------------------------------------------------------------
@register(
    "grouped_topk_salted",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders
        )
        WHERE rn <= 3
    """,
    doc="Skew-proof grouped top-k: per-salt top-k then global top-k merge.",
    tags=("window", "topk", "scale"),
)
def grouped_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase grouped top-k identical in result to a rank window.

    Phase 1 computes top-k within (group, salt) — the heavy shuffle sees
    SALT× more, much smaller partitions, so a hot group can't straggle a
    task. Phase 2 re-ranks the ≤ SALT·k survivors per group. At local SF
    this is overkill; at 100 TB with skewed keys it is the plan you want.
    """
    SALT, K = 8, 3
    o = load_table(spark, sf_dir, "orders")
    salted = o.withColumn("salt", F.pmod(F.col("o_orderkey"), F.lit(SALT)))
    w1 = Window.partitionBy("o_custkey", "salt").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    survivors = salted.withColumn("rn", F.row_number().over(w1)).filter(F.col("rn") <= K)
    w2 = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        survivors.drop("rn", "salt")
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= K)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# [EXT] running aggregate with an explicit frame
# ---------------------------------------------------------------------------
@register(
    "running_revenue_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_revenue
        FROM orders
    """,
    tags=("window",),
)
def running_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum with ROWS UNBOUNDED PRECEDING frame."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
    )


# ---------------------------------------------------------------------------
# [EXT] lag/lead — inter-order gap per customer
# ---------------------------------------------------------------------------
@register(
    "order_gap_days",
    oracle="""
        SELECT o_custkey, o_orderkey,
               date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate ASC, o_orderkey ASC),
                         o_orderdate) AS gap_days
        FROM orders
    """,
    tags=("window",),
)
def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() over event order: whole days between consecutive orders."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date")).cast("long").alias("gap_days"),
    )


# ---------------------------------------------------------------------------
# [EXT] rank vs dense_rank vs ntile
# ---------------------------------------------------------------------------
@register(
    "customer_balance_ranks",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               rank()       OVER w AS bal_rank,
               dense_rank() OVER w AS bal_dense_rank,
               ntile(4)     OVER w AS bal_quartile
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
    tags=("window",),
)
def customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family over one shared window spec."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.ntile(4).over(w).alias("bal_quartile"),
    )


# ---------------------------------------------------------------------------
# [EXT] time-RANGE frame — rolling 7-day revenue per customer
# ---------------------------------------------------------------------------
@register(
    "rolling_7d_customer_revenue",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(count(*) OVER w AS BIGINT) AS n_orders_7d,
               round(sum(o_totalprice) OVER w, 2) AS revenue_7d
        FROM orders
        WINDOW w AS (
          PARTITION BY o_custkey
          ORDER BY floor(epoch(o_orderdate::TIMESTAMP))
          RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
        )
    """,
    doc="Rolling 7-day revenue: RANGE frame over event time, the window mechanism ROWS frames can't express.",
    tags=("window", "ext"),
)
def rolling_7d_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame:each order's trailing-7-day order count and
    revenue for its customer. RANGE frames bound by VALUE distance (epoch
    seconds here), not row count — ties (same timestamp) are frame peers
    in both engines, which is what makes the hash comparable.

    Scale: one shuffle on o_custkey; frame evaluation is a sliding
    two-pointer over each partition's sort — linear, bounded state."""
    o = load_table(spark, sf_dir, "orders")
    ts = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(ts.asc())
        .rangeBetween(-7 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_orders_7d"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("revenue_7d"),
    )


# ---------------------------------------------------------------------------
# [EXT r5] ntile bucketing: equal-frequency quartiles inside each nation
# ---------------------------------------------------------------------------
@register(
    "ntile_balance_quartiles",
    oracle="""
        SELECT c_nationkey, quartile,
               CAST(count(*) AS BIGINT) AS n_customers,
               min(c_acctbal) AS min_bal,
               max(c_acctbal) AS max_bal
        FROM (
          SELECT c_nationkey, c_acctbal,
                 ntile(4) OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal, c_custkey) AS quartile
          FROM customer
        )
        GROUP BY c_nationkey, quartile
    """,
    doc="ntile(4) equal-frequency quartiles per nation (deterministic via the c_custkey tiebreak), rolled up to per-bucket count and balance bounds.",
    tags=("window", "ext"),
)
def ntile_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every customer to an equal-frequency balance quartile
    WITHIN its nation via ``ntile(4)``, then roll each bucket up to
    count + balance bounds. The ``c_custkey`` tiebreak makes bucket
    boundaries deterministic when balances tie (SQL-standard ntile gives
    earlier buckets the extra rows; both engines implement that rule, so
    the counts hash-match exactly). min/max are raw row doubles — no FP
    accumulation.

    Scale: the window partitions by nation — 25 bounded partitions whose
    per-partition sort is the only cost; the rollup reuses the same
    partitioning (no second shuffle of the full table). Unlike a global
    ntile (single-partition sort — the anti-pattern), per-group ntile
    parallelizes across groups.
    """
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_nationkey",
            "c_acctbal",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r5] Correlated LATERAL subquery: per-customer top-3 orders
# ---------------------------------------------------------------------------
@register(
    "lateral_top3_orders",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
        ) t
    """,
    doc="Correlated LATERAL subquery (ORDER BY + LIMIT per outer row): the SQL-standard per-entity top-k form, decorrelated by Catalyst into one join — no per-customer execution.",
    tags=("topk", "join", "ext"),
)
def lateral_top3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard spelling of grouped top-k: a correlated LATERAL
    subquery with ORDER BY ... LIMIT 3 per outer customer row. Catalyst
    DECORRELATES it — the executed plan is one equi-join feeding a
    per-key limit, not 150k per-customer subquery executions (the naive
    reading). Same result set as the window-function form
    (`grouped_best_worst_orders` family) — registered because LATERAL is
    the surface users port from Postgres/DuckDB/Trino, and the engines
    must agree on tie handling, which the (o_totalprice DESC, o_orderkey)
    ordering makes total.

    Scale: decorrelation is the whole story — one shuffle on the join
    key, per-group state bounded at k rows. A correlated-execution engine
    would pay 150k index probes; Catalyst's rewrite is the reason LATERAL
    is safe at 100 TB.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM {c} c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM {o}
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
        ) t
        """,
        c=c,
        o=o,
    )


# ---------------------------------------------------------------------------
# [EXT r5] percent_rank / cume_dist: relative-standing percentile bands
# ---------------------------------------------------------------------------
@register(
    "percentile_band_segments",
    oracle="""
        SELECT c_mktsegment AS segment, band,
               CAST(count(*) AS BIGINT) AS n_customers,
               min(c_acctbal) AS min_bal,
               max(c_acctbal) AS max_bal,
               round(max(cd), 6) AS max_cume_dist
        FROM (
          SELECT c_mktsegment, c_acctbal,
                 least(CAST(floor(percent_rank() OVER w * 10) AS INT), 9) AS band,
                 cume_dist() OVER w AS cd
          FROM customer
          WINDOW w AS (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal, c_custkey)
        )
        GROUP BY 1, 2
    """,
    doc="percent_rank + cume_dist relative standing inside each market segment, folded into 10 percentile bands — the remaining two ranking-window members beside rank/row_number/ntile.",
    tags=("window", "ext"),
)
def percentile_band_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing via `percent_rank` ((rank-1)/(n-1)) and
    `cume_dist` (rows ≤ current / n) inside each market segment, folded
    into 10 equal-width percentile BANDS with per-band count, balance
    bounds, and the band's top cumulative share. The (c_acctbal,
    c_custkey) ordering makes ranks unique, so both functions are exact
    rationals of integers — IEEE-identical across engines with no
    rounding discipline needed beyond the display round.

    Scale: same posture as `ntile_balance_quartiles` — the window
    partitions by segment (5 bounded groups, parallel per-partition
    sorts), never a global single-partition sort (the percent_rank
    anti-pattern; for a truly global percentile at 100 TB, compose the
    `row_ids_distributed` offset-map trick with a count broadcast).
    The band rollup reuses the window's partitioning.
    """
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            F.col("c_mktsegment").alias("segment"),
            "c_acctbal",
            F.least(F.floor(F.percent_rank().over(w) * 10).cast("int"), F.lit(9)).alias(
                "band"
            ),
            F.cume_dist().over(w).alias("cd"),
        )
        .groupBy("segment", "band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            F.round(F.max("cd"), 6).alias("max_cume_dist"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r6] Skyline (Pareto frontier) without a single-partition pass
# ---------------------------------------------------------------------------
SKYLINE_PARTS = 16  # price-range partitions; thousands on a real cluster


@register(
    "skyline_pareto_parts",
    oracle="""
        SELECT a.p_partkey, a.p_retailprice, CAST(a.p_size AS BIGINT) AS p_size
        FROM part a
        WHERE a.p_retailprice IS NOT NULL AND a.p_size IS NOT NULL
          AND NOT EXISTS (
          SELECT 1 FROM part b
          WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
            AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
        )
    """,
    doc="2D skyline (min price, max size) via range partitioning + per-partition prefix maxima + a bounded cross-partition max map — no quadratic join, no SinglePartition pass; oracle is the NOT EXISTS dominance form.",
    tags=("topk", "relational", "ext", "scale"),
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skyline query: parts not DOMINATED by any other part, where b
    dominates a iff b is no pricier AND no smaller, strictly better on at
    least one axis (minimize p_retailprice, maximize p_size — the classic
    'cheap and big' frontier). Equal (price, size) twins do not dominate
    each other, so both survive — matching the NOT EXISTS oracle.

    The naive plan is the oracle's O(n²) anti-join; the sorted-scan trick
    is a SINGLE-partition cumulative max — both scale cliffs. This plan is
    the distributed 2D skyline:

    1. ``repartitionByRange(price)`` — partition i holds a contiguous
       price interval (equal keys never straddle a boundary).
    2. within each partition, per-price max size + a prefix max over
       strictly cheaper price groups — all windows PARTITIONED BY pid,
       fully parallel.
    3. one bounded (≤ SKYLINE_PARTS rows) per-partition max collected and
       prefix-folded into a literal map: the max size in any strictly
       cheaper PARTITION — driver-side metadata, like the row-id offsets.
    4. a is dominated iff a cheaper-price row (same pid via prefix max,
       earlier pid via the map) has size ≥ a's, or a same-price row has
       size > a's.
    """
    # NULL-measure rows are excluded EXPLICITLY on both sides: dominance
    # comparisons against NULL are three-valued, and the two engines'
    # NOT-EXISTS vs window formulations would otherwise diverge on them
    # (the oracle keeps such rows, the window plan drops them). The
    # fixture has no NULLs; the filter makes the contract explicit.
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .select(
            "p_partkey", "p_retailprice", F.col("p_size").cast("long").alias("p_size")
        )
    )
    ranged = (
        p.repartitionByRange(SKYLINE_PARTS, "p_retailprice")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin pid: both consumers must agree
    )
    grp = ranged.groupBy("pid", "p_retailprice").agg(F.max("p_size").alias("gmax"))
    w_prev = (
        Window.partitionBy("pid")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = grp.withColumn("prev_max", F.max("gmax").over(w_prev))
    pmax = sorted(
        (r["pid"], r["mx"])
        for r in grp.groupBy("pid").agg(F.max("gmax").alias("mx")).collect()
    )
    if not pmax:
        return local_frame(spark, [], "p_partkey long, p_retailprice double, p_size long")
    # "No cheaper partition" is represented by ABSENCE from the map (and
    # "no cheaper row in this partition" by prev_max staying NULL), not a
    # -1 sentinel: with a sentinel, any domain where the measure can reach
    # it (p_size <= -1) would be falsely dominated (ADVICE r6). Each
    # comparison is coalesced to False so a NULL "nothing cheaper" never
    # dominates and never leaks three-valued logic into the filter.
    ext: dict[int, int] = {}
    run = None
    for pid, mx in pmax:
        if run is not None:
            ext[pid] = run
        run = mx if run is None else max(run, mx)
    ext_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in ext.items() for x in kv]), F.col("pid")
    ) if ext else F.lit(None).cast("long")
    dominated = (
        F.coalesce(F.col("prev_max") >= F.col("p_size"), F.lit(False))
        | (F.col("gmax") > F.col("p_size"))
        | F.coalesce(ext_expr >= F.col("p_size"), F.lit(False))
    )
    return (
        ranged.join(grp, ["pid", "p_retailprice"])
        .filter(~dominated)
        .select("p_partkey", "p_retailprice", "p_size")
    )
