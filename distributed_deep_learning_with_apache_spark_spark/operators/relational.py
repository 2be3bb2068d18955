"""Relational core: filter / project / aggregate / join / sort / set ops.

Reference parity (SURVEY §2): the chapter-1 RDD chain
(`SparkRDDAPITest.scala:21-39` — filter P1, keyBy P2, map-project P3,
count/max/min A1/A2, takeOrdered O2) re-expressed as DataFrame plans over
the fixture star schema, plus the [EXT] generalizations (groupBy().agg(),
the standard join family, windows) the driver's oracle harness exercises.

Scale posture:
- Filters/projections are plain Catalyst expressions → pushed into the
  parquet scan (PushedFilters / ReadSchema pruning — verified in
  tests/test_plans.py).
- Dim joins hint ``F.broadcast`` (dims stay << facts at any SF); fact-fact
  joins are left to Catalyst/AQE (sort-merge + skew splitting).
- Aggregations are hash aggs with map-side partial aggregation — free in
  Spark's physical planning; no driver-side loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table


def _r2(c):  # money-scale rounding for oracle float parity
    return F.round(c, 2)


# ---------------------------------------------------------------------------
# P1+P3: predicate filter (string contains) + column projection
# (SparkRDDAPITest.scala:22,24 — userId.contains("A") then map to amount)
# ---------------------------------------------------------------------------
@register(
    "filter_contains_project",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_name LIKE '%1%' AND c_acctbal > 0
    """,
    tags=("relational", "filter"),
)
def filter_contains_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter rows whose key contains a substring, project three columns."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").contains("1") & (F.col("c_acctbal") > 0)).select(
        "c_custkey", "c_name", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# P2: keyBy — pair records with an extracted key (SparkRDDAPITest.scala:23)
# ---------------------------------------------------------------------------
@register(
    "keyby_amounts",
    oracle="""
        SELECT c_mktsegment AS key, c_custkey, c_acctbal AS amount
        FROM customer
        WHERE c_name LIKE '%A%' OR c_name LIKE '%a%'
    """,
    tags=("relational", "project"),
)
def keyby_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyBy(userId).map(_.amount) analog: (key, id, amount) projection."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.lower("c_name").contains("a")).select(
        F.col("c_mktsegment").alias("key"),
        "c_custkey",
        F.col("c_acctbal").alias("amount"),
    )


# ---------------------------------------------------------------------------
# A1/A2: global count / min / max / sum / avg actions
# (SparkRDDAPITest.scala:32,36-37 — count, max, min as one agg pass)
# ---------------------------------------------------------------------------
@register(
    "global_agg_stats",
    oracle="""
        SELECT count(*) AS n_rows,
               round(min(l_quantity), 2) AS min_qty,
               round(max(l_quantity), 2) AS max_qty,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(avg(l_discount), 6) AS avg_disc
        FROM lineitem
    """,
    tags=("relational", "agg"),
    bench=True,
)
def global_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass global aggregation (count/min/max/sum/avg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        _r2(F.min("l_quantity")).alias("min_qty"),
        _r2(F.max("l_quantity")).alias("max_qty"),
        _r2(F.sum("l_extendedprice")).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


# ---------------------------------------------------------------------------
# A5 [EXT]: TPC-H Q1-shaped pricing summary (hash agg, map-side partials)
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational", "agg"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter → groupBy(2) → 8 aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r2(F.sum(disc_price)).alias("sum_disc_price"),
            _r2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# O2: takeOrdered / orderBy+limit → TakeOrderedAndProject physical op
# (SparkRDDAPITest.scala:38)
# ---------------------------------------------------------------------------
@register(
    "top10_orders",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10
    """,
    tags=("relational", "topk"),
)
def top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject
    (per-partition heaps + driver merge — no full sort at scale)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# J1 generalized: broadcast hash equi-join dim→fact + agg + top-k
# (the flagship chapter-1-on-real-tables query; entry() runs this)
# ---------------------------------------------------------------------------
@register(
    "revenue_per_customer",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               round(sum(o.o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 10
    """,
    tags=("relational", "join"),
    bench=True,
)
def revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: broadcast dim join → hash agg → top-10.

    The customer dim is broadcast (no shuffle of the fact side on the join);
    the groupBy shuffles on c_custkey once. At 100 TB the same plan holds:
    customer ~1.5 GB/TB-SF would switch to sort-merge via AQE automatically.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_custkey", "c_name")
        .agg(_r2(F.sum("o_totalprice")).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# [EXT] multiway star join: region ⨝ nation ⨝ customer ⨝ orders
# ---------------------------------------------------------------------------
@register(
    "revenue_per_region",
    oracle="""
        SELECT r.r_name AS region_name,
               round(sum(o.o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY r.r_name
    """,
    tags=("relational", "join"),
    bench=True,
)
def revenue_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three chained broadcast joins collapse into one fact-scan stage."""
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(_r2(F.sum("o_totalprice")).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# P4 analog [EXT]: left-semi join (EXISTS) — vocabulary-membership pattern
# (Word2VecTransformingIterator.java:97-99 as a relational op)
# ---------------------------------------------------------------------------
@register(
    "customers_with_open_orders",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
    tags=("relational", "join"),
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: membership filter without duplicating rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# [EXT] left-anti join (NOT EXISTS)
# ---------------------------------------------------------------------------
@register(
    "customers_without_orders",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("relational", "join"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: rows with no match on the other side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# [EXT] outer join with null handling
# ---------------------------------------------------------------------------
@register(
    "customer_order_counts_outer",
    oracle="""
        SELECT c.c_custkey,
               count(o.o_orderkey) AS n_orders,
               round(coalesce(sum(o.o_totalprice), 0.0), 2) AS revenue
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    """,
    tags=("relational", "join"),
)
def customer_order_counts_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving customers with zero orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _r2(F.coalesce(F.sum("o_totalprice"), F.lit(0.0))).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# U2: union (vstack — ND4JTest.java:56) + distinct
# ---------------------------------------------------------------------------
@register(
    "union_account_balances",
    oracle="""
        SELECT * FROM (
          SELECT 'customer' AS side, c_custkey AS entity_key, c_acctbal AS acctbal FROM customer
          UNION ALL
          SELECT 'supplier' AS side, s_suppkey AS entity_key, s_acctbal AS acctbal FROM supplier
        )
    """,
    tags=("relational", "setop"),
)
def union_account_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise concat of two homogeneous projections (vstack / unionByName)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("side"),
        F.col("c_custkey").alias("entity_key"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("side"),
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return c.unionByName(s)


# ---------------------------------------------------------------------------
# [EXT] distinct + count-distinct aggregation
# ---------------------------------------------------------------------------
@register(
    "distinct_order_priorities",
    oracle="""
        SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("relational", "agg"),
)
def distinct_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg in the physical plan)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# [EXT] conditional aggregation / pivot shape
# ---------------------------------------------------------------------------
@register(
    "orders_by_status_pivot",
    oracle="""
        SELECT o_orderpriority,
               round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2) AS open_price,
               round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS filled_price,
               round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 2) AS partial_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("relational", "agg"),
)
def orders_by_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot expressed as conditional aggregation (one pass, no shuffle per column)."""
    o = load_table(spark, sf_dir, "orders")

    def cond_sum(status: str):
        return _r2(
            F.sum(F.when(F.col("o_orderstatus") == status, F.col("o_totalprice")).otherwise(0.0))
        )

    return o.groupBy("o_orderpriority").agg(
        cond_sum("O").alias("open_price"),
        cond_sum("F").alias("filled_price"),
        cond_sum("P").alias("partial_price"),
    )


# ---------------------------------------------------------------------------
# [EXT] rollup (hierarchical subtotals)
# ---------------------------------------------------------------------------
@register(
    "rollup_revenue",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS revenue
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        HAVING count(*) > 0  -- Spark emits no rows on empty input; ANSI emits ()
    """,
    tags=("relational", "agg"),
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (expand-based multi-level aggregation)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _r2(F.sum("l_extendedprice")).alias("revenue")
    )


# ---------------------------------------------------------------------------
# [EXT] explicit GROUPING SETS (the general form rollup/cube specialize)
# ---------------------------------------------------------------------------
@register(
    "grouping_sets_revenue",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        HAVING count(*) > 0  -- Spark emits no rows on empty input; ANSI emits ()
    """,
    tags=("relational", "agg"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — per-flag totals, per-linestatus totals, and
    the grand total in ONE pass (an Expand node feeding one hash
    aggregate), where three separate GROUP BYs would scan lineitem three
    times. At 100 TB the single-scan property is the point."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        _r2(F.sum("l_extendedprice")).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# [EXT] join-key skew profile (the operational pre-check for 100 TB joins)
# ---------------------------------------------------------------------------
@register(
    "join_key_skew_profile",
    oracle="""
        WITH per_key AS (
          SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS cnt
          FROM lineitem GROUP BY l_suppkey
        )
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(cnt) AS BIGINT) AS max_cnt,
               round(avg(cnt), 6) AS avg_cnt,
               round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
               round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
               round(max(cnt) / avg(cnt), 6) AS skew_ratio
        FROM per_key
    """,
    doc="Key-cardinality skew profile of a join key — the diagnostic that "
    "decides salting/AQE-skew-join before a 100 TB shuffle.",
    tags=("relational", "agg", "scale"),
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic for a prospective shuffle key: per-key counts
    (one map-side-combined agg) collapse to distribution stats — max/avg
    (the skew ratio AQE's skewJoin threshold reasons about) and exact
    percentiles. Two aggregations, the second over |distinct keys| rows
    only; no row-level data survives the first shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 6).alias("avg_cnt"),
        F.round(F.percentile("cnt", F.lit(0.5)), 6).alias("p50_cnt"),
        F.round(F.percentile("cnt", F.lit(0.99)), 6).alias("p99_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 6).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# [EXT] date/timestamp bucketing — monthly revenue trend
# ---------------------------------------------------------------------------
@register(
    "monthly_revenue",
    oracle="""
        SELECT date_trunc('month', o_orderdate)::DATE AS order_month,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders
        GROUP BY 1
    """,
    tags=("relational", "agg", "time"),
)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing on a timestamp column (cast to date for parity)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"))
        .agg(_r2(F.sum("o_totalprice")).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# [EXT] scalar subquery / derived-table join: orders above customer average
# ---------------------------------------------------------------------------
@register(
    "orders_above_customer_avg",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        JOIN (SELECT o_custkey, avg(o_totalprice) AS avg_price
              FROM orders GROUP BY o_custkey) a
          ON o.o_custkey = a.o_custkey
        WHERE o.o_totalprice > 1.5 * a.avg_price
    """,
    tags=("relational", "join", "subquery"),
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join against a grouped derived table (correlated-subquery shape).

    Both sides shuffle on o_custkey once; AQE reuses the exchange.
    """
    o = load_table(spark, sf_dir, "orders")
    avg_df = o.groupBy(F.col("o_custkey").alias("k")).agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        o.join(avg_df, o.o_custkey == avg_df.k)
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# [EXT] TPC-H Q3 shape: fact-fact join (orders ⨝ lineitem) + dim filter + top-k
# ---------------------------------------------------------------------------
@register(
    "shipping_priority",
    oracle="""
        SELECT l.l_orderkey,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               o.o_orderdate::DATE AS order_date, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    tags=("relational", "join", "tpch"),
    bench=True,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: the first fact-fact join in the suite. lineitem ⨝ orders
    shuffles both sides on orderkey (sort-merge at scale, AQE may broadcast
    the filtered orders side locally); customer stays a broadcast dim.
    Both date filters push into the parquet scans before any join."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("order_date"), "o_orderpriority")
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# [EXT] TPC-H Q5 shape: five-way join through the full star
# ---------------------------------------------------------------------------
@register(
    "local_supplier_volume",
    oracle="""
        SELECT n.n_name AS nation_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
    """,
    tags=("relational", "join", "tpch"),
    bench=True,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: lineitem ⨝ orders fact-fact core with four broadcast dims
    around it, including the two-key supplier-nation match."""
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == n.n_nationkey))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# [EXT] CUBE with grouping flags
# ---------------------------------------------------------------------------
@register(
    "cube_revenue",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
               round(sum(l_extendedprice), 2) AS revenue
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        HAVING count(*) > 0  -- Spark emits no rows on empty input; ANSI emits ()
    """,
    tags=("relational", "agg"),
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims with per-column GROUPING flags (engine-portable,
    unlike bit-packed grouping_id)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        _r2(F.sum("l_extendedprice")).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# [EXT] TPC-H Q2 shape: min-per-group correlated filter
# ---------------------------------------------------------------------------
@register(
    "cheapest_part_per_brand",
    oracle="""
        SELECT p.p_brand, p.p_partkey, p.p_retailprice
        FROM part p
        JOIN (SELECT p_brand, min(p_retailprice) AS min_price
              FROM part GROUP BY p_brand) m
          ON m.p_brand = p.p_brand AND p.p_retailprice = m.min_price
    """,
    tags=("relational", "join", "subquery", "tpch"),
)
def cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: rows matching their group's minimum (correlated-subquery
    filter as a grouped-derived-table join; AQE reuses the scan)."""
    p = load_table(spark, sf_dir, "part")
    m = p.groupBy(F.col("p_brand").alias("b")).agg(F.min("p_retailprice").alias("min_price"))
    return (
        p.join(m, (p.p_brand == m.b) & (p.p_retailprice == m.min_price))
        .select("p_brand", "p_partkey", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# [EXT] TPC-H Q14 shape: conditional-aggregation ratio over a dim join
# ---------------------------------------------------------------------------
@register(
    "promo_revenue_share",
    oracle="""
        SELECT round(
                 100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_share_pct,
               count(*) AS n_lines
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
    tags=("relational", "join", "tpch"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: global ratio of conditional to total revenue across a
    broadcast part join — one scan, one agg, no shuffle beyond the final
    single-group reduce."""
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT] Statistical aggregates: correlation / covariance / dispersion
# ---------------------------------------------------------------------------
@register(
    "stat_lineitem_correlations",
    oracle="""
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 5) AS qty_price_corr,
               round(covar_pop(l_quantity, l_extendedprice), 3) AS qty_price_covar_pop,
               round(covar_samp(l_quantity, l_extendedprice), 3) AS qty_price_covar_samp,
               round(stddev_samp(l_extendedprice), 3) AS price_stddev,
               round(var_samp(l_quantity), 5) AS qty_var
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("relational", "agg", "stats"),
)
def stat_lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped second-moment statistics: Pearson correlation, population
    and sample covariance, stddev, variance per return flag.

    The reference's statistics are all first-moment (mean at
    `ND4JTest.java:46`, min/max at `SparkRDDAPITest.scala:36-37`); these
    are the [EXT] second-moment completions of that surface. All five are
    single-pass partial-aggregable (sum/sum-of-products accumulators), so
    at 100 TB it is one scan + one tiny 3-group reduce; functions whose
    sample-bias correction differs between engines (skewness, kurtosis)
    are deliberately excluded from the oracle contract.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 5).alias("qty_price_corr"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 3).alias("qty_price_covar_pop"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 3).alias("qty_price_covar_samp"),
        F.round(F.stddev_samp("l_extendedprice"), 3).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 5).alias("qty_var"),
    )


# ---------------------------------------------------------------------------
# [EXT r4] Salted join: the manual skew cure when AQE can't see it coming
# ---------------------------------------------------------------------------
JOIN_SALT = 8
QTY_TIERS = ((10, "low"), (25, "mid"), (40, "high"))  # upper bound -> label


@register(
    "salted_join_quantity_tier",
    oracle="""
        SELECT CASE WHEN l_quantity <= 10 THEN 'low'
                    WHEN l_quantity <= 25 THEN 'mid'
                    WHEN l_quantity <= 40 THEN 'high'
                    ELSE 'bulk' END AS tier,
               CAST(count(*) AS BIGINT) AS n_items,
               floor(sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)) / 100 + 0.5) / 100 AS revenue
        FROM lineitem
        GROUP BY 1
    """,
    doc="Skew-salted dimension join: big side salted by row hash, small side replicated across salts; result identical to the plain join (oracle-checked).",
    tags=("relational", "join", "ext", "scale"),
)
def salted_join_quantity_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED equi-join on a pathologically hot key. l_quantity has ~50
    distinct values over millions of rows — joining on it hash-partitions
    the whole fact table into ~50 shuffle partitions, each a straggler.
    The manual cure (when the small side is too big to broadcast and AQE's
    skew split can't apply — e.g. the skewed side feeds a bucketed layout):
    the FACT side appends salt = pmod(xxhash64(row id), S), the DIM side
    replicates each row S times via explode(sequence(...)), and the join
    key becomes (key, salt) — S× more partitions, each ~1/S of the hot
    key's rows. Semantics are proven identical to the unsalted join by the
    DuckDB oracle (which computes the tier directly).

    The dim here is a 50-row quantity→tier table built inline
    (broadcastable in real life — chosen deliberately so correctness is
    oracle-checkable; the pattern is what transfers, and the test pins the
    (q, salt) exchange key in the executed plan). Salt uses
    xxhash64(l_orderkey, l_linenumber): 64-bit, seedable, portable —
    never rand(), which breaks retry determinism.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    # 50-row quantity->tier dimension, replicated across all salts
    tier = (
        F.when(F.col("q") <= 10, "low")
        .when(F.col("q") <= 25, "mid")
        .when(F.col("q") <= 40, "high")
        .otherwise("bulk")
    )
    dim = spark.range(1, 51).select(F.col("id").cast("int").alias("q"), tier.alias("tier"))
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALT - 1)))
    )
    fact = li.select(
        F.col("l_quantity").cast("int").alias("q"),
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(JOIN_SALT))
        .cast("int")
        .alias("salt"),
        "l_extendedprice",
        "l_discount",
    )
    joined = fact.join(dim_salted.hint("shuffle_hash"), ["q", "salt"])
    # Integer-exact revenue (the events_value_interpolate fix pattern):
    # cross-engine sum order makes round(sum(double), 2) split on .xx5
    # boundaries, so accumulate floor(x*1e4 + 0.5) cent-hundredths as
    # exact BIGINTs and apply one identical floor-based half-up at the
    # end — every step is the same IEEE op on identical bits in both
    # engines.
    scaled = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        (F.floor(F.sum(scaled) / 100 + 0.5) / 100).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# [EXT r5] Null-aware anti join: NOT IN over a NULLABLE subquery column
# ---------------------------------------------------------------------------
@register(
    "notin_nullaware_anti",
    oracle="""
        SELECT p_size, CAST(count(*) AS BIGINT) AS n_parts
        FROM part
        WHERE p_size NOT IN (
          SELECT nullif(CAST(l_quantity AS INT), 0)
          FROM lineitem
          WHERE l_returnflag = 'R' AND l_quantity <= 25
        )
        GROUP BY p_size
    """,
    doc="NOT IN over a nullable subquery column: three-valued-logic semantics force Catalyst's null-aware anti join, not a plain LeftAnti.",
    tags=("relational", "join", "ext"),
)
def notin_nullaware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a NULLABLE subquery key — the three-valued-logic trap a
    plain anti join gets wrong: if the subquery yields even one NULL, SQL's
    NOT IN is never TRUE and the result must be EMPTY (x <> NULL is
    UNKNOWN). Catalyst therefore plans a NULL-AWARE anti join (a distinct
    physical strategy from `customers_without_orders`' LeftAnti): the build
    side tracks whether any NULL was seen, and the streamed row's
    survival condition is `not (match or build-has-null)`. The subquery
    here is nullable by TYPE (`nullif`) but null-free by VALUE under the
    registered filter, so the output is non-degenerate while the plan is
    the null-aware form; tests/test_null_semantics.py flips the sentinel
    so a real NULL appears and pins the empty-result contract on both
    engines. Expressed via spark.sql because the DataFrame `isin` surface
    is not null-aware. Scale: the build side is an aggregated
    distinct-key set — broadcastable; the fact side never shuffles.
    """
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_nn")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_nn")
    return spark.sql(
        """
        SELECT p_size, CAST(count(*) AS BIGINT) AS n_parts
        FROM part_nn
        WHERE p_size NOT IN (
          SELECT nullif(CAST(l_quantity AS INT), 0)
          FROM lineitem_nn
          WHERE l_returnflag = 'R' AND l_quantity <= 25
        )
        GROUP BY p_size
        """
    )


# ---------------------------------------------------------------------------
# [EXT r5] Bloom-filter semi-join pruning: fixed-size membership sketch
# prunes the fact scan before the exact verify join
# ---------------------------------------------------------------------------
BLOOM_M = 1 << 17  # bits (16 KiB bitmap) - fixed size regardless of build side
BLOOM_SEEDS = (101, 202, 303)  # k = 3 hash functions


@register(
    "bloom_semijoin_pruned",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               floor(sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5))
                     / 100 + 0.5) / 100 AS revenue
        FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        )
    """,
    doc="Bloom-filter semi-join pruning: 16 KiB bitmap built distributively (bit_or agg), broadcast to prune the fact, exact verify join over candidates only — one-sided error makes the output exact.",
    tags=("relational", "join", "ext", "scale", "sketch"),
)
def bloom_semijoin_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join pruning through a FIXED-SIZE membership sketch — the
    runtime-filter pattern (Spark's AQE injects the same shape as
    InjectRuntimeFilter; here it is explicit and engine-independent).
    Build side (urgent expensive orders) hashes each key with k=3 seeded
    xxhash64s into a BLOOM_M-bit Bloom filter, assembled DISTRIBUTIVELY:
    bit positions -> 64-bit words via a bit_or() aggregate (map-side
    combinable, shuffle <= 2048 rows), packed into one array<long> row.
    That 16 KiB bitmap broadcasts to the fact scan no matter how large
    the build side grows — the property that matters at 100 TB, where the
    key SET can blow past the broadcast threshold but the BITMAP cannot.
    The probe is a JVM-side expression (element_at + shiftleft + bitwise
    AND per seed — no shuffle, no Python); survivors then verify against
    the true key set with an ordinary semi join. Bloom false positives
    are removed there; false negatives are impossible (one-sided error),
    so the registered output is EXACT and the DuckDB IN-subquery oracle
    hash-checks it. tests/test_scale_patterns.py pins the no-false-
    negative invariant and the pruning ratio.
    """
    orders = load_table(spark, sf_dir, "orders")
    build = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey")

    # --- build: distributed bitmap assembly (bit positions -> words) ------
    pos = F.array(
        *[
            F.pmod(F.xxhash64(F.col("o_orderkey"), F.lit(s)), F.lit(BLOOM_M))
            for s in BLOOM_SEEDS
        ]
    )
    n_words = BLOOM_M // 64
    words = (
        build.select(F.explode(pos).alias("bit"))
        .select(
            (F.col("bit") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("word"))
    )
    bitmap = (
        spark.range(n_words)
        .select(F.col("id").cast("int").alias("w"))
        .join(words, "w", "left")
        .select("w", F.coalesce("word", F.lit(0).cast("long")).alias("word"))
        .agg(F.array_sort(F.collect_list(F.struct("w", "word"))).alias("ws"))
        .select(F.transform("ws", lambda s: s["word"]).alias("bm"))
    )

    # --- probe: JVM bit tests against the broadcast bitmap ----------------
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    member = None
    for s in BLOOM_SEEDS:
        t = F.expr(
            f"(element_at(bm, CAST(pmod(xxhash64(l_orderkey, {s}), {BLOOM_M}) / 64 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT),"
            f"             CAST(pmod(xxhash64(l_orderkey, {s}), {BLOOM_M}) % 64 AS INT))) != 0"
        )
        member = t if member is None else (member & t)
    candidates = li.crossJoin(F.broadcast(bitmap)).filter(member).drop("bm")

    # --- verify: exact semi join over candidates only ---------------------
    verified = candidates.join(
        build, candidates["l_orderkey"] == build["o_orderkey"], "left_semi"
    )
    scaled = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    return verified.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        (F.floor(F.sum(scaled) / 100 + 0.5) / 100).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# [EXT r5] Dense global row ids WITHOUT a single-reducer sort
# ---------------------------------------------------------------------------
@register(
    "row_ids_distributed",
    oracle="""
        SELECT o_orderkey,
               CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS row_id
        FROM orders
    """,
    doc="Dense 1..N row ids in key order with no SinglePartition sort: a distributed prefix sum of weight 1 (ranks.global_row_ranks).",
    tags=("relational", "ext", "scale"),
)
def row_ids_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``row_number() OVER (ORDER BY key)`` — the naive form funnels the
    ENTIRE table through one reducer (Catalyst plans a SinglePartition
    exchange for an un-partitioned window), the classic scale cliff when
    assigning training-example ids at 100 TB. The distributed form is
    `ranks.global_row_ranks` (a prefix sum of weight 1; see the ranks
    module docstring): every pass is partition-parallel and the only
    serial state is a <= 32-entry offset map.

    The executed plan must contain NO SinglePartition exchange
    (tests/test_r5_new_ops.py gates it); the oracle is the naive global
    form, so the hash check proves the two are identical. Requires a
    unique key (o_orderkey here) — ties within the order would make ids
    nondeterministic.
    """
    from .ranks import global_row_ranks

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    ranked, _n = global_row_ranks(spark, orders, [("o_orderkey", True)], "row_id")
    return ranked


# ---------------------------------------------------------------------------
# [EXT r5] Grouped-aggregate pandas UDF (UDAF): the §2.11 surface member
# the UDF family still lacked (scalar pandas_udf, mapInPandas,
# applyInPandas, applyInPandasWithState, and UDTF are covered elsewhere).
# ---------------------------------------------------------------------------
@register(
    "udaf_weighted_median",
    oracle="""
        WITH c AS (
          SELECT l_returnflag,
                 l_extendedprice AS v,
                 sum(l_quantity) OVER (PARTITION BY l_returnflag
                                       ORDER BY l_extendedprice) AS cw,
                 sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
          FROM lineitem
        )
        SELECT l_returnflag, min(v) AS weighted_median
        FROM c WHERE cw >= tw / 2
        GROUP BY l_returnflag
    """,
    doc="Custom aggregate as a GROUPED_AGG pandas UDF: lower weighted median per group, Arrow-shipped, hash-checked against a window-SQL oracle.",
    tags=("udf", "agg", "ext"),
)
def udaf_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A statistic Spark has no builtin for — the (lower) weighted median
    of l_extendedprice weighted by l_quantity — expressed as a
    GROUPED_AGG pandas UDF: each group's columns arrive as ONE Arrow
    batch in a Python worker, the aggregate returns one scalar. This is
    the sanctioned custom-UDAF path (Arrow transfer, no per-row Python).

    Determinism across engines: the lower weighted median is min{v :
    W(≤v) ≥ W/2}. The oracle's default RANGE window frame makes cw the
    cumulative weight through ALL ties of v, and the pandas cumsum's
    intra-tie order cannot flip the answer (weights are non-negative, so
    a tie group's last row carries the same through-v total either way).
    l_quantity values are small integers stored as doubles, so every
    cumulative sum is IEEE-exact — no float-order divergence is possible.

    Scale: a grouped-agg UDF materializes ONE GROUP per worker — right
    for bounded-cardinality groups (3 return flags) or any group that
    fits an executor; for an unbounded group use the histogram-narrowing
    engine (`quantile_two_pass_exact`), which never holds a group in
    memory. That trade-off is the §2.11 lesson this query exists to pin.
    """
    import pandas as pd

    # Real annotation objects (this module's `from __future__ import
    # annotations` stringifies inline hints, which pandas_udf's GROUPED_AGG
    # signature inference cannot parse).
    def _wmedian(v, w):
        df = pd.DataFrame({"v": v, "w": w}).sort_values("v", kind="mergesort")
        cw = df["w"].cumsum()
        half = df["w"].sum() / 2
        return float(df["v"][cw >= half].iloc[0])

    _wmedian.__annotations__ = {"v": pd.Series, "w": pd.Series, "return": float}
    wmedian = F.pandas_udf(_wmedian, "double")

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return li.groupBy("l_returnflag").agg(
        wmedian("l_extendedprice", "l_quantity").alias("weighted_median")
    )


# ---------------------------------------------------------------------------
# [EXT r5] Join-strategy hint: SHUFFLE_HASH instead of sort-merge
# ---------------------------------------------------------------------------
@register(
    "hinted_shuffle_hash_join",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               floor(sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5))
                     / 100 + 0.5) / 100 AS revenue
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    doc="SHUFFLE_HASH join hint: same fact-fact equi-join answered without sorting either side — the strategy override (plan-gated ShuffledHashJoin) engineers reach for when SMJ sort spills dominate.",
    tags=("join", "relational", "ext"),
)
def hinted_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join with an explicit SHUFFLE_HASH strategy hint on the
    orders side: both sides still shuffle on the key, but the build side
    is HASHED per partition instead of both sides being SORTED — plan
    shows ShuffledHashJoin, never SortMergeJoin (gated in
    tests/test_r5_new_ops.py). Results are identical to the unhinted
    plan; only the physical strategy moves.

    Scale: the knob that matters when sort spills dominate — SMJ pays
    O(n log n) sort + spill on BOTH sides; SHJ pays one in-memory hash
    table per build partition. Safe exactly when each build partition
    fits executor memory (orders/partitions here; at 100 TB you size
    shuffle partitions so it holds, or AQE falls back). The hint is
    per-query and per-side — no global config flip.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    scaled = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    return (
        li.join(o.hint("SHUFFLE_HASH"), li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            # Cent-scaled BIGINT accumulation — order-independent across
            # engines (round(sum(double),2) can flip on a .xx5 boundary).
            (F.floor(F.sum(scaled) / 100 + 0.5) / 100).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r7] Hybrid hot-key join: measured heavy keys broadcast, cold keys
# sort-merge — the skew strategy for when salting is too blunt (salting
# replicates the WHOLE dim side; this replicates only the hot keys' rows).
# ---------------------------------------------------------------------------
HOT_KEYS_N = 100


@register(
    "hybrid_hotkey_join",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS price_cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    doc=f"Skew-hybrid join: the {HOT_KEYS_N} most frequent join keys take a broadcast path (hint-pinned), the cold tail takes sort-merge — unioned result must hash-equal the plain join. The surgical alternative to salting.",
    tags=("relational", "join", "skew", "ext", "scale"),
)
def hybrid_hotkey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew strategy AQE's skew-join split approximates at runtime and
    salting over-pays for (salting replicates EVERY dim row ×N; this
    replicates nothing and broadcasts only the hot keys' dim rows):

    1. one cheap pass counts fact rows per join key; the top-N keys are
       the measured hot set (at 100 TB this IS the count-min sketch of
       `heavy_hitters_sketch_verified` — here the exact top-N, KB-sized);
    2. hot fact rows join the broadcast hot-key dim slice (`broadcast`
       hint — no shuffle of the skewed rows at all);
    3. cold fact rows take the normal shuffle join (`merge` hint pins the
       sort-merge path so the test can plan-gate BOTH branches);
    4. union, aggregate — must hash-equal the single plain join.

    TPC-H fixture keys are uniform, so the 'hot' set here is just the
    top of a flat distribution — the MECHANISM (split, two plan shapes,
    exact union) is what's exercised and gated; the payoff shows on a
    zipfian key at 1000 executors where one reducer would otherwise
    receive a third of the table.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("price_c"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hot_keys = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("l_orderkey").asc())
        .limit(HOT_KEYS_N)
        .select("l_orderkey")
        .localCheckpoint(eager=True)  # both consumers must agree on the set
    )
    li_hot = li.join(F.broadcast(hot_keys), "l_orderkey", "left_semi")
    li_cold = li.join(F.broadcast(hot_keys), "l_orderkey", "left_anti")
    o_hot = o.join(
        F.broadcast(hot_keys), o.o_orderkey == hot_keys.l_orderkey, "left_semi"
    )
    hot = li_hot.join(
        F.broadcast(o_hot), li_hot.l_orderkey == o_hot.o_orderkey
    )
    cold = li_cold.join(
        o.hint("merge"), li_cold.l_orderkey == o.o_orderkey
    )
    both = hot.select("o_orderpriority", "price_c").unionByName(
        cold.select("o_orderpriority", "price_c")
    )
    return both.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("price_c").cast("long").alias("price_cents"),
    )
