"""Decision-support query shapes (TPC-H-style) over the fixture star schema.

These widen the [EXT] relational surface beyond the chapter-1 chain
(SURVEY §2.3/2.4 note: "implement the standard join family ... so the
oracle harness can exercise it") with the classic decision-support
patterns a 100 TB deployment actually runs: existential semi-joins,
outer-join distributions, decorrelated scalar subqueries, disjunctive
join predicates, and having-filtered fact rollups. Adapted to the
fixture columns (no l_commitdate/p_container in TESTDATA.md — predicates
use the columns that exist).

Scale posture per query is noted in its docstring; the common themes:
- every correlated subquery is decorrelated into a join against a
  grouped aggregate (no per-row re-scans);
- dimension sides are broadcast explicitly;
- all predicates are Catalyst expressions so they push into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table, local_frame


def _r2(c):
    return F.round(c, 2)


# ---------------------------------------------------------------------------
# Q4 shape: existential semi-join with a non-equi residual predicate.
# ---------------------------------------------------------------------------
@register(
    "order_priority_check",
    oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
    """,
    tags=("relational", "join", "semi"),
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a quarter having a late-shipped line.

    EXISTS becomes a left-semi join whose condition mixes the equi key
    (l_orderkey = o_orderkey) with a non-equi residual (shipdate 60+ days
    after order date). Catalyst keeps the equi part as the join key, so
    at scale this is a shuffled hash/sort-merge semi-join, not a
    nested-loop — the date filter on orders prunes the probe side first.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    cond = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q6 shape: pure scan-side predicate aggregation (pushdown showcase).
# ---------------------------------------------------------------------------
@register(
    "forecast_revenue",
    oracle="""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    tags=("relational", "agg", "pushdown"),
    bench=True,
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: every predicate reaches the parquet scan
    (PushedFilters on l_shipdate/l_discount/l_quantity), then a single
    map-side-combinable global sum. At 100 TB this reads only the three
    referenced columns and skips row groups via min/max stats."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(_r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q13 shape: outer join preserving empty groups, then a distribution.
# ---------------------------------------------------------------------------
@register(
    "customer_order_distribution",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
    tags=("relational", "join", "outer"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customers-per-order-count histogram.

    The priority filter must live in the JOIN condition (not WHERE) so
    order-less customers survive with count 0. Two hash aggs: the first
    shuffles on c_custkey, the second on the tiny c_count domain — the
    second shuffle is negligible at any scale."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q17 shape: decorrelated per-group scalar subquery.
# ---------------------------------------------------------------------------
@register(
    "small_quantity_revenue",
    oracle="""
        SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity)
            FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
          )
    """,
    tags=("relational", "subquery"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of below-half-average-quantity lines.

    The correlated scalar subquery is decorrelated by hand: first a
    broadcast semi-reduction of lineitem to the brand's parts (the only
    partkeys the correlation can touch), then one grouped avg over that
    reduced set, then an equi-join back. One shuffle on l_partkey instead
    of a per-row rescan of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li_b = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    caps = li_b.groupBy(F.col("l_partkey").alias("cap_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        li_b.join(F.broadcast(caps), li_b["l_partkey"] == caps["cap_partkey"])
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(_r2(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q18 shape: having-filtered fact rollup joined back to its dimensions.
# ---------------------------------------------------------------------------
@register(
    "large_volume_customers",
    oracle="""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               round(o.o_totalprice, 2) AS o_totalprice,
               round(t.sum_qty, 2) AS sum_qty
        FROM (
            SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        ) t
        JOIN orders o ON o.o_orderkey = t.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    tags=("relational", "join", "having"),
    bench=True,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold.

    The HAVING rollup runs first (map-side partial sums shrink the fact
    before the shuffle); the handful of surviving orderkeys then joins to
    orders and customer. At scale AQE converts the second join to
    broadcast because the rollup output is tiny."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, o["o_orderkey"] == big["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            _r2(F.col("o_totalprice")).alias("o_totalprice"),
            _r2(F.col("sum_qty")).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 shape: disjunction of conjunctive join predicates.
# ---------------------------------------------------------------------------
@register(
    "disjunctive_predicate_revenue",
    oracle="""
        SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("relational", "join", "disjunction"),
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of brand/size/quantity conjunctions across the
    join. Catalyst extracts the common single-side implications (brand IN
    (...), quantity ranges) and pushes them below the join, so the
    broadcast hash join probes only pre-filtered rows — verify with
    .explain(): the part scan carries a PushedFilters In(p_brand, ...)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        arm("Brand#12", 15, 1, 11) | arm("Brand#23", 25, 10, 20) | arm("Brand#34", 35, 20, 30)
    ).agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))


# ---------------------------------------------------------------------------
# Q22 shape: global scalar aggregate + anti join.
# ---------------------------------------------------------------------------
@register(
    "idle_rich_customers",
    oracle="""
        SELECT c_mktsegment, count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
          )
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY c_mktsegment
    """,
    tags=("relational", "join", "anti", "subquery"),
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (none since 2000-01-01).

    The scalar subquery is a 1-row aggregate broadcast-cross-joined onto
    customer (a broadcast nested-loop of 1 row — free), NOT collected to
    the driver, so the whole plan stays in one job. NOT EXISTS is a
    left-anti join on o_custkey."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"), _r2(F.sum("c_acctbal")).alias("totacctbal"))
    )


# ---------------------------------------------------------------------------
# Q7 shape: bidirectional nation-pair trade volume.
# ---------------------------------------------------------------------------
@register(
    "nation_trade_volume",
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               round(sum(volume), 2) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l.l_shipdate) AS l_year,
                   l.l_extendedprice * (1 - l.l_discount) AS volume
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
            JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        )
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("relational", "join", "multiway"),
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, both directions,
    by year.

    The two fact tables (lineitem, orders) meet in one shuffled equi-join on
    orderkey; every dimension (supplier, customer, nation×2) broadcasts. The
    nation-pair disjunction is applied AFTER the dim joins attach nation
    names, but Catalyst infers s_nationkey/c_nationkey IN (...) filters from
    the broadcast join keys at runtime via DPP-style pruning on the dim side.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_r2(F.sum("volume")).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 shape: national market share inside a region's market.
# ---------------------------------------------------------------------------
@register(
    "market_share",
    oracle="""
        SELECT o_year,
               round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                     / sum(volume), 6) AS mkt_share
        FROM (
            SELECT year(o.o_orderdate) AS o_year,
                   l.l_extendedprice * (1 - l.l_discount) AS volume,
                   n1.n_name AS supp_nation
            FROM lineitem l
            JOIN part p     ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
            JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
            JOIN region r   ON r.r_regionkey = n2.n_regionkey
            WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
        )
        GROUP BY o_year
    """,
    tags=("relational", "join", "multiway"),
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's share of PROMO-part revenue sold into the
    EUROPE customer market, per year — conditional-sum ÷ total-sum in one
    grouped aggregate (no self-join).

    All five dimensions broadcast; part's p_type filter prunes the fact at
    the scan-side join probe. The share is computed with sum(CASE)
    map-side-combinably — one shuffle on o_year total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            F.col("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q9 shape: profit by supplier nation and year (cost proxied from retailprice).
# ---------------------------------------------------------------------------
@register(
    "product_type_profit",
    oracle="""
        SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
        FROM (
            SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                   l.l_extendedprice * (1 - l.l_discount)
                     - 0.8 * p.p_retailprice * l.l_quantity AS amount
            FROM lineitem l
            JOIN part p     ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o   ON o.o_orderkey = l.l_orderkey
            JOIN nation n   ON n.n_nationkey = s.s_nationkey
            WHERE p.p_type = 'STANDARD'
        )
        GROUP BY nation, o_year
    """,
    tags=("relational", "join", "multiway"),
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on STANDARD-type parts by supplier nation and
    order year. The fixture has no partsupp table, so unit cost is proxied
    as 80% of p_retailprice (cited in the oracle identically).

    One fact-fact shuffle join (lineitem ⋈ orders on orderkey); part,
    supplier, nation broadcast. Profit arithmetic stays inside the
    projection — whole-stage-codegen'd, no UDF.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.8 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        j.select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(_r2(F.sum("amount")).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q10 shape: top returned-revenue customers in a quarter.
# ---------------------------------------------------------------------------
@register(
    "returned_item_losses",
    oracle="""
        SELECT c.c_custkey, c.c_name, n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    tags=("relational", "join", "topk"),
)
def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers with the most returned revenue in
    1996-H1 (returnflag = 'R'), with their nation.

    Both engines rank on the ROUNDED revenue with c_custkey as tie-break,
    so the top-20 cut is reproducible across float-summation orders. The
    plan is a date+flag-pruned fact-fact join, grouped on customer, then
    TakeOrderedAndProject — the global top-k never materializes a full sort.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q15 shape: supplier(s) with the maximum quarterly revenue.
# ---------------------------------------------------------------------------
@register(
    "top_supplier_revenue",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   sum(l_extendedprice * (1 - l_discount)) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 2) AS total_revenue
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    tags=("relational", "subquery", "view"),
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving maximum revenue in
    1996-Q1. The revenue "view" is computed once and reused for both the
    max and the final select (Spark: a single DataFrame reference; the
    scalar max joins back as a 1-row broadcast, never collect()ed).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", _r2(F.col("total_revenue")).alias("total_revenue"))
    )


# ---------------------------------------------------------------------------
# Q21 shape: the only late supplier on a multi-supplier order.
# ---------------------------------------------------------------------------
@register(
    "lonely_late_suppliers",
    oracle="""
        WITH per_supp AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                            THEN 1 ELSE 0 END) AS is_late
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY l.l_orderkey, l.l_suppkey
        ),
        per_order AS (
            SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late
            FROM per_supp GROUP BY l_orderkey
        )
        SELECT s.s_name, count(*) AS numwait
        FROM per_supp ps
        JOIN per_order po ON po.l_orderkey = ps.l_orderkey
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        WHERE ps.is_late = 1 AND po.n_supp >= 2 AND po.n_late = 1
        GROUP BY s.s_name
    """,
    tags=("relational", "join", "subquery"),
)
def lonely_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper (>60 days
    after order date) on an order involving at least two suppliers.

    The reference formulation's EXISTS / NOT EXISTS pair is decorrelated
    into two grouped aggregates over one (orderkey, suppkey) rollup — one
    fact-fact shuffle plus two cheap reductions, instead of two correlated
    re-scans of lineitem. The supplier dim broadcasts at the end.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    late = F.max(
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
        ).otherwise(0)
    )
    per_supp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(late.alias("is_late"))
    )
    per_order = per_supp.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    return (
        per_supp.join(per_order, per_supp["l_orderkey"] == per_order["po_orderkey"])
        .filter((F.col("is_late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q11 shape: grouped value rollup kept above a global-share threshold.
# ---------------------------------------------------------------------------
@register(
    "important_part_values",
    oracle="""
        WITH part_value AS (
            SELECT l.l_partkey,
                   sum(l.l_extendedprice * (1 - l.l_discount)) AS value
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            WHERE r.r_name = 'EUROPE'
            GROUP BY l.l_partkey
        )
        SELECT l_partkey, round(value, 2) AS value
        FROM part_value
        WHERE value > (SELECT sum(value) * 0.005 FROM part_value)
    """,
    tags=("relational", "subquery", "agg"),
)
def important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (MNISTAnomalyDetector.java:184-198's group-then-
    threshold pattern writ relational): per-part shipped value from
    EUROPE-region suppliers, keeping parts whose value exceeds 0.5% of the
    regional total. The fixture set has no partsupp table, so lineitem is
    the part-supplier bridge (same join tree, same HAVING-vs-scalar shape).

    The scalar global total is a second aggregation over the SAME grouped
    DataFrame (computed once, reused), joined back as a 1-row broadcast —
    no collect(), no correlated re-scan. At 100 TB: one shuffle for the
    part rollup; supplier→nation→region is a broadcast chain pre-filtered
    to one region before touching the fact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    regional_supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey")
    )
    part_value = (
        li.join(F.broadcast(regional_supp), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value"))
    )
    threshold = part_value.agg((F.sum("value") * F.lit(0.005)).alias("cutoff"))
    return (
        part_value.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("cutoff"))
        .select("l_partkey", _r2(F.col("value")).alias("value"))
    )


# ---------------------------------------------------------------------------
# Q12 shape: conditional two-way counts over late-shipped lines.
# ---------------------------------------------------------------------------
@register(
    "late_shipment_priority",
    oracle="""
        SELECT l.l_returnflag AS ship_class,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_returnflag
    """,
    tags=("relational", "join", "agg"),
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: for 1996 lines shipped >30 days after their order
    date, count urgent/high-priority vs other orders per return-flag class
    (the fixtures carry no l_shipmode; l_returnflag is the stand-in
    category). The CASE-WHEN pair is two conditional sums in ONE hash
    aggregate — one pass, map-side combinable. The year filter pushes into
    the lineitem scan; the 30-day lateness residual evaluates on the
    joined row. At scale this is a single fact-fact shuffle on orderkey.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q16 shape: distinct-count by part attributes with an anti-join exclusion.
# ---------------------------------------------------------------------------
@register(
    "part_supplier_counts",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#9'
          AND p.p_type NOT LIKE 'PROMO%'
          AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("relational", "agg", "distinct", "anti"),
)
def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each surviving
    (brand, type, size) part class, excluding negative-balance suppliers
    (the fixture stand-in for the complaints list; no partsupp table, so
    lineitem is the part-supplier bridge).

    The NOT IN is a left-anti join against a tiny broadcast side (safe
    here because s_suppkey is never null in the fixture). COUNT(DISTINCT)
    expands to a two-phase partial-distinct aggregate under AQE — the
    expensive dedup happens map-side before the shuffle. All three part
    predicates (inequality, NOT LIKE, IN-list) push into the part scan.
    """
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad_supp), li["l_suppkey"] == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20 shape: semi-join against a HAVING-thresholded aggregate subquery.
# ---------------------------------------------------------------------------
@register(
    "promotion_candidate_suppliers",
    oracle="""
        WITH shipped AS (
            SELECT l.l_suppkey, sum(l.l_quantity) AS qty
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_name LIKE 'small%'
              AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l.l_suppkey
        )
        SELECT s.s_name, round(s.s_acctbal, 2) AS s_acctbal
        FROM supplier s
        WHERE s.s_suppkey IN (
            SELECT l_suppkey FROM shipped
            WHERE qty > (SELECT max(qty) * 0.5 FROM shipped)
        )
    """,
    tags=("relational", "semi", "subquery"),
)
def promotion_candidate_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than half the
    maximum per-supplier quantity of 'small%' parts during 1996 (the
    partsupp-availqty comparison re-expressed on the lineitem bridge —
    same nested structure: IN over an aggregate that itself compares
    against a scalar subquery).

    Decorrelation: the shipped rollup is computed once; its scalar max
    joins back as a 1-row broadcast; the surviving supplier keys semi-join
    the supplier dim. Three nested subqueries become one shuffle plus two
    broadcasts — nothing is re-scanned per row.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = load_table(spark, sf_dir, "supplier")
    shipped = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    cutoff = shipped.agg((F.max("qty") * F.lit(0.5)).alias("half_max"))
    keep = (
        shipped.crossJoin(F.broadcast(cutoff))
        .filter(F.col("qty") > F.col("half_max"))
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(keep), s["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .select("s_name", _r2(F.col("s_acctbal")).alias("s_acctbal"))
    )


# ---------------------------------------------------------------------------
# [EXT r6] Spark-4 SQL surface: pipe syntax + GROUP BY ALL
# ---------------------------------------------------------------------------
@register(
    "sql_pipe_syntax",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               floor(sum(floor(o_totalprice * 10000 + 0.5)) / 100 + 0.5) / 100
                 AS total_price
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        HAVING count(*) > 10
        ORDER BY o_orderpriority
    """,
    doc="Spark-4 SQL pipe syntax (FROM |> WHERE |> AGGREGATE |> WHERE |> ORDER BY) hash-checked against the classic SELECT form — same Catalyst plan, new parse surface.",
    tags=("relational", "sql", "ext"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 pipe-operator SQL dialect end-to-end: each `|>` stage
    applies one operator to the previous result, in execution order —
    the readability answer to deeply-nested subqueries. The hash check
    proves the pipe parse is sugar: identical rows to the classic
    SELECT/GROUP BY/HAVING the oracle runs. Post-aggregation filtering in
    pipe syntax is a plain `|> WHERE` (there is no HAVING keyword —
    stage order replaces clause re-ordering rules).

    Scale: parse-surface only; the logical plan is the same aggregate
    Catalyst builds from the classic form (partial agg + one shuffle).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe_v")
    return spark.sql(
        """
        FROM orders_pipe_v
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     floor(sum(floor(o_totalprice * 10000 + 0.5)) / 100 + 0.5) / 100
                       AS total_price
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, n_orders, total_price
        |> ORDER BY o_orderpriority
        """
    )


@register(
    "group_by_all_revenue",
    oracle="""
        SELECT l_returnflag,
               l_linestatus,
               CAST(count(*) AS BIGINT) AS n_items,
               floor(sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5))
                     / 100 + 0.5) / 100 AS revenue
        FROM lineitem
        GROUP BY ALL
    """,
    doc="GROUP BY ALL: grouping keys inferred from the non-aggregate select list — the same sugar in Spark 4 and DuckDB, hash-checked through both resolvers.",
    tags=("relational", "sql", "ext"),
)
def group_by_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUP BY ALL` resolution: every non-aggregate select item becomes
    a grouping key. Both engines implement the inference independently —
    the hash check pins that they infer the SAME key set (a resolver
    divergence would show up as a row-count mismatch, not an error).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gba_v")
    return spark.sql(
        """
        SELECT l_returnflag,
               l_linestatus,
               CAST(count(*) AS BIGINT) AS n_items,
               floor(sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5))
                     / 100 + 0.5) / 100 AS revenue
        FROM lineitem_gba_v
        GROUP BY ALL
        """
    )


# ---------------------------------------------------------------------------
# [EXT r6] RFM customer segmentation
# ---------------------------------------------------------------------------
@register(
    "customer_rfm_segments",
    oracle="""
        WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
        rfm AS (
          SELECT o_custkey,
                 date_diff('day', max(o_orderdate), (SELECT mx FROM anchor))
                   AS r_days,
                 CAST(count(*) AS BIGINT) AS freq,
                 CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT)
                   AS monetary_cents
          FROM orders GROUP BY o_custkey
        ),
        scored AS (
          SELECT o_custkey,
                 ntile(4) OVER (ORDER BY r_days ASC,  o_custkey ASC) AS r_score,
                 ntile(4) OVER (ORDER BY freq DESC, o_custkey ASC) AS f_score,
                 ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey ASC)
                   AS m_score,
                 monetary_cents
          FROM rfm
        )
        SELECT CAST(r_score AS BIGINT) AS r_score,
               CAST(f_score AS BIGINT) AS f_score,
               CAST(m_score AS BIGINT) AS m_score,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(monetary_cents) AS BIGINT) AS total_cents
        FROM scored GROUP BY 1, 2, 3
    """,
    doc="RFM segmentation: per-customer recency/frequency/monetary quartiles (ntile with deterministic tiebreaks), rolled up per (r,f,m) cell — the classic CRM cohorting query, integer-exact.",
    tags=("relational", "window", "ext"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-Frequency-Monetary segmentation: each customer scored into
    quartiles on days-since-last-order (lower = better), order count, and
    lifetime spend (cents — integer-exact), then cohort sizes + spend per
    (r,f,m) cell. Score 1 is best on every axis (most recent / most
    frequent / highest spend). Ties break on custkey so both engines'
    ntile frontiers are identical.

    Scale (r10 rewrite, frontier form): the per-customer rollup is one
    map-side-combinable hash agg, checkpointed ONCE; the three quartile
    scores — formerly three global-ORDER ntile windows, i.e. three
    single-partition sorts of the customer dimension — come from
    `ranks.ntile_frontiers` (one prefix sum over each axis's VALUE
    domain; see the ranks module docstring). Scoring is then a single
    scan with nine broadcast-literal comparisons (`ntile_score_expr`) —
    no per-row rank is ever materialized, no join-back, no window.
    Output is bit-identical to the oracle's ntile (same ANSI fat-bucket
    contract, same total orders).
    """
    from .ranks import ntile_frontiers, ntile_score_expr

    o = load_table(spark, sf_dir, "orders")

    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("mx", "last_order").alias("r_days"),
            "freq",
            "monetary_cents",
        )
        # one slim materialization feeds all three axes' value counts,
        # the (rare) tie-block probes, and the final scoring scan
        .localCheckpoint(eager=True)
    )
    axes = [
        ("r_days", True, "r_score"),
        ("freq", False, "f_score"),
        ("monetary_cents", False, "m_score"),
    ]
    # the three axes are independent probe pipelines over the same
    # checkpointed input — submit them as CONCURRENT Spark jobs so the
    # driver-side collects overlap (each axis alone is a handful of
    # small jobs; serially their scheduling latency adds up)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(axes)) as ex:
        futs = [
            (
                value_col,
                asc,
                out,
                ex.submit(
                    ntile_frontiers, spark, rfm, value_col, asc, "o_custkey", 4
                ),
            )
            for value_col, asc, out in axes
        ]
        score_cols = [
            ntile_score_expr(value_col, asc, "o_custkey", fut.result()[1]).alias(out)
            for value_col, asc, out, fut in futs
        ]
    scored = rfm.select("monetary_cents", *score_cols)
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# [EXT r7] Classical seasonal decomposition: trend (centered 7-day MA) +
# day-of-week seasonal + residual, on the daily revenue series.
# ---------------------------------------------------------------------------
# A Monday far below any plausible corpus minimum: portable day-of-week is
# days-since-epoch mod 7. Spark's F.pmod is always non-negative, but SQL `%`
# is sign-of-dividend, so the oracle additionally wraps ((x % 7) + 7) % 7 —
# the two fixes together make dow_idx agree cross-engine for ALL dates, not
# just dates >= the epoch (r7 advisor finding: a pre-epoch date yielded -2
# in DuckDB vs 5 in Spark).
SD_EPOCH_MON = "1900-01-01"  # a Monday


@register(
    "seasonal_decompose_daily_revenue",
    oracle=f"""
        WITH daily AS (
          SELECT o_orderdate::DATE AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1
        ),
        win AS (
          SELECT day, cents,
                 ((CAST((day - DATE '{SD_EPOCH_MON}') AS BIGINT) % 7) + 7) % 7
                   AS dow_idx,
                 CAST(sum(cents) OVER w7 AS BIGINT) AS sum7,
                 count(*) OVER w7 AS n7
          FROM daily
          WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        full_w AS (
          SELECT *, 7 * cents - sum7 AS detr7 FROM win WHERE n7 = 7
        ),
        seas AS (
          SELECT dow_idx,
                 CAST(sum(detr7) AS BIGINT) AS s_num,
                 CAST(count(*) AS BIGINT) * 7 AS s_den
          FROM full_w GROUP BY dow_idx
        )
        SELECT f.day, f.dow_idx, f.cents,
               floor(f.sum7 / 7.0 * 100 + 0.5) / 100 AS trend_cents,
               floor(s.s_num * 1.0 / s.s_den * 100 + 0.5) / 100 AS seasonal_cents,
               floor((f.cents - f.sum7 / 7.0 - s.s_num * 1.0 / s.s_den) * 100 + 0.5)
                 / 100 AS residual_cents
        FROM full_w f JOIN seas s USING (dow_idx)
    """,
    doc="Classical additive seasonal decomposition of daily revenue: centered 7-day moving-average trend, day-of-week seasonal from integer-exact detrended sums, residual — every base quantity a BIGINT so the hash cannot split on accumulation order.",
    tags=("relational", "timeseries", "window", "ext", "scale"),
)
def seasonal_decompose_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decomposition a forecasting pipeline runs before modeling (the
    `forecast_revenue` aggregate's structured sibling): daily revenue =
    trend + day-of-week seasonal + residual. Trend is the centered 7-day
    moving average (full windows only — edge days are not emitted rather
    than emitted with a shrunken window, the contract classical
    decomposition uses); the seasonal term is the mean detrended value per
    day-of-week; the residual is what an anomaly alert would watch.

    Cross-engine exactness discipline: daily revenue is summed as cent
    BIGINTs; the detrended quantity is kept as the INTEGER 7*cents - sum7
    (scaling by 7 avoids a fractional trend), so the per-dow seasonal
    numerator is a BIGINT sum — order-independent — and every division
    happens once, on identical doubles, in both engines. Day-of-week is
    days-since-a-fixed-Monday mod 7 (engine date-part conventions differ;
    integer day arithmetic does not).

    Scale: one map-side-combinable daily aggregate over the fact table,
    then windows/joins over |days| rows (~2.4k for 7 years — metadata
    scale at any corpus size). The 7-row window is ROWS-based: O(1) state
    per row, no range scan.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "cents",
        F.pmod(F.datediff("day", F.lit(SD_EPOCH_MON).cast("date")), F.lit(7))
        .cast("long")
        .alias("dow_idx"),
        F.sum("cents").over(w7).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    full_w = win.filter(F.col("n7") == 7).withColumn(
        "detr7", (7 * F.col("cents") - F.col("sum7")).cast("long")
    )
    seas = full_w.groupBy("dow_idx").agg(
        F.sum("detr7").cast("long").alias("s_num"),
        (F.count(F.lit(1)) * 7).cast("long").alias("s_den"),
    )
    half_up2 = lambda c: F.floor(c * 100 + 0.5) / 100  # noqa: E731
    trend = F.col("sum7") / 7.0
    seasonal = F.col("s_num") * 1.0 / F.col("s_den")
    return full_w.join(F.broadcast(seas), "dow_idx").select(
        "day",
        "dow_idx",
        "cents",
        half_up2(trend).alias("trend_cents"),
        half_up2(seasonal).alias("seasonal_cents"),
        half_up2(F.col("cents") - trend - seasonal).alias("residual_cents"),
    )


# ---------------------------------------------------------------------------
# [EXT r7] Seasonal-residual anomaly alerts: |residual| vs 3x MAD of the
# residual series — the robust alarm composed from the decomposition.
# ---------------------------------------------------------------------------
SRA_K = 3  # MAD multiplier


@register(
    "seasonal_residual_alerts",
    oracle=f"""
        WITH daily AS (
          SELECT o_orderdate::DATE AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1
        ),
        win AS (
          SELECT day, cents,
                 ((CAST((day - DATE '{SD_EPOCH_MON}') AS BIGINT) % 7) + 7) % 7
                   AS dow_idx,
                 CAST(sum(cents) OVER w7 AS BIGINT) AS sum7,
                 count(*) OVER w7 AS n7
          FROM daily
          WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        full_w AS (SELECT *, 7 * cents - sum7 AS detr7 FROM win WHERE n7 = 7),
        seas AS (
          SELECT dow_idx, CAST(sum(detr7) AS BIGINT) AS s_num,
                 CAST(count(*) AS BIGINT) * 7 AS s_den
          FROM full_w GROUP BY dow_idx
        ),
        resid AS (
          SELECT f.day,
                 floor((f.cents - f.sum7 / 7.0 - s.s_num * 1.0 / s.s_den)
                       * 100 + 0.5) / 100 AS res
          FROM full_w f JOIN seas s USING (dow_idx)
        ),
        med AS (SELECT quantile_cont(res, 0.5) AS m FROM resid),
        mad AS (
          SELECT quantile_cont(abs(res - med.m), 0.5) AS d
          FROM resid, med
        )
        SELECT r.day, r.res AS residual_cents,
               floor(abs(r.res - med.m) * 100 + 0.5) / 100 AS abs_dev,
               abs(r.res - med.m) > {SRA_K} * mad.d AS is_anomaly
        FROM resid r, med, mad
    """,
    doc=f"Robust anomaly alarm on the seasonal-decomposition residuals: flag days whose residual deviates from the residual MEDIAN by more than {SRA_K}x the MAD — outlier days cannot poison their own detection bar, unlike a stddev rule.",
    tags=("relational", "timeseries", "quality", "ext", "scale"),
)
def seasonal_residual_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What `seasonal_decompose_daily_revenue` exists FOR: the alarm. A
    day's residual (revenue minus trend minus day-of-week effect) is
    scored against the residual series' median ± {SRA_K}·MAD — the robust
    bar (`mad_price_outliers`' discipline applied to the time axis): a
    single anomalous day inflates a stddev bound and hides itself, but
    moves the median/MAD almost not at all.

    Exactness: residuals re-derive through the decomposition's
    integer-exact pipeline (identical doubles both engines); median and
    MAD are exact interpolated percentiles (Spark percentile == DuckDB
    quantile_cont, the proven parity); the flag is one comparison of
    identical doubles.

    Known limit (tested, documented): the DECOMPOSITION itself is the
    classical mean-seasonal form, which is not robust — a single extreme
    day leaks 1/n into its day-of-week seasonal mean, so its dow peers
    show secondary (smaller) deviations and may co-flag. Production STL
    re-fits with robustness weights to kill that leak; the ALERT bar here
    is already robust (median/MAD), which is what keeps the spike itself
    unmissable.

    Scale: everything after the daily aggregate runs on |days| rows; the
    two percentile aggregates are single-pass over that bounded series,
    broadcast back as scalars.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "cents",
        F.pmod(F.datediff("day", F.lit(SD_EPOCH_MON).cast("date")), F.lit(7))
        .cast("long")
        .alias("dow_idx"),
        F.sum("cents").over(w7).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    full_w = win.filter(F.col("n7") == 7).withColumn(
        "detr7", (7 * F.col("cents") - F.col("sum7")).cast("long")
    )
    seas = full_w.groupBy("dow_idx").agg(
        F.sum("detr7").cast("long").alias("s_num"),
        (F.count(F.lit(1)) * 7).cast("long").alias("s_den"),
    )
    resid = full_w.join(F.broadcast(seas), "dow_idx").select(
        "day",
        (
            F.floor(
                (
                    F.col("cents")
                    - F.col("sum7") / 7.0
                    - F.col("s_num") * 1.0 / F.col("s_den")
                )
                * 100
                + 0.5
            )
            / 100
        ).alias("res"),
    )
    med = resid.agg(F.percentile("res", F.lit(0.5)).alias("m"))
    with_med = resid.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.percentile(F.abs(F.col("res") - F.col("m")), F.lit(0.5)).alias("d")
    )
    return (
        with_med.crossJoin(F.broadcast(mad))
        .select(
            "day",
            F.col("res").alias("residual_cents"),
            (F.floor(F.abs(F.col("res") - F.col("m")) * 100 + 0.5) / 100).alias(
                "abs_dev"
            ),  # floor-based half-up: cross-engine round() splits on .xx5
            (F.abs(F.col("res") - F.col("m")) > SRA_K * F.col("d")).alias(
                "is_anomaly"
            ),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r8] Dyadic EWMA of daily revenue — exponential smoothing that is
# EXACT cross-engine because alpha = 1/2 makes every weight a power of
# two: the weighted numerator is a BIGINT, the normalizer a constant, and
# the only floating op is one division of identical integers.
# ---------------------------------------------------------------------------
EWMA_W = 16  # trailing window; weight of lag i is 2^(15-i), normalizer 2^16-1


@register(
    "ewma_dyadic_revenue",
    oracle=f"""
        WITH daily AS (
          SELECT o_orderdate::DATE AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1
        ),
        lagged AS (
          SELECT day, cents,
                 {" + ".join(f"coalesce(lag(cents, {i}) OVER w, 0) * {1 << (EWMA_W - 1 - i)}" for i in range(EWMA_W))}
                   AS num,
                 count(*) OVER (ORDER BY day
                                ROWS BETWEEN {EWMA_W - 1} PRECEDING AND CURRENT ROW)
                   AS n_win
          FROM daily
          WINDOW w AS (ORDER BY day)
        )
        SELECT day, cents,
               floor(num / {(1 << EWMA_W) - 1}.0 * 100 + 0.5) / 100 AS ewma_cents
        FROM lagged WHERE n_win = {EWMA_W}
    """,
    doc=f"Exponentially weighted moving average of daily revenue with alpha=1/2 over a {EWMA_W}-day window: dyadic weights make the weighted sum a BIGINT, so the smoothing — normally hopeless to hash cross-engine — reduces to one division of identical integers.",
    tags=("relational", "timeseries", "window", "ext", "scale"),
)
def ewma_dyadic_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing, the other classical trend estimator next to
    `seasonal_decompose_daily_revenue`'s centered moving average — EWMA
    reacts faster to level shifts and is what monitoring dashboards
    actually plot. FP exponential smoothing can never hash cross-engine
    (the recursion accumulates rounding in engine-specific order), so
    this operator picks alpha = 1/2 and a finite {EWMA_W}-day horizon:
    weight of lag i is 2^({EWMA_W - 1}-i) — every weighted term is a
    BIGINT product, the numerator a BIGINT sum, the normalizer the
    constant 2^{EWMA_W}-1, and the single division runs on identical
    integers in both engines. (Truncating the infinite EWMA tail at
    {EWMA_W} days discards < 2^-{EWMA_W} of the weight — far below the
    cent quantization.)

    Scale: one map-side-combinable daily aggregate over the fact table;
    the lag window runs on |days| rows (metadata scale) with O(1) state
    per row. Full-window rows only, like the decomposition's contract.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("day")
    num = None
    for i in range(EWMA_W):
        term = F.coalesce(F.lag("cents", i).over(w), F.lit(0)) * (
            1 << (EWMA_W - 1 - i)
        )
        num = term if num is None else num + term
    lagged = daily.select(
        "day",
        "cents",
        num.alias("num"),
        F.count(F.lit(1))
        .over(w.rowsBetween(-(EWMA_W - 1), 0))
        .alias("n_win"),
    )
    return lagged.filter(F.col("n_win") == EWMA_W).select(
        "day",
        "cents",
        (
            F.floor(F.col("num") / float((1 << EWMA_W) - 1) * 100 + 0.5) / 100
        ).alias("ewma_cents"),
    )


# ---------------------------------------------------------------------------
# [EXT r8] Poisson-bootstrap confidence interval for mean order value —
# the resampling CI computed WITHOUT materializing resamples: the
# distributed bootstrap (Poisson(1) weights per (row, rep)), with the
# randomness a portable Lehmer map so both engines draw identical
# "bootstrap samples".
# ---------------------------------------------------------------------------
import math as _math

BOOT_B = 100  # bootstrap replicates
BOOT_P = 2_147_483_647
BOOT_A = 950_706_376  # Fishman-Moore (see setops/incremental constants)
BOOT_C = 11
# Poisson(1) CDF thresholds as INTEGER literals against the Lehmer output
# (exact constants shared by both engines — no runtime exp() anywhere):
_POIS_CDF = [_math.exp(-1.0) * s for s in (1.0, 2.0, 2.5, 8.0 / 3.0)]
BOOT_T = [int(_math.floor(c * BOOT_P)) for c in _POIS_CDF]  # w<=0,1,2,3; else 4


def _boot_weight_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {BOOT_T[0]} THEN 0 WHEN {u} < {BOOT_T[1]} THEN 1 "
        f"WHEN {u} < {BOOT_T[2]} THEN 2 WHEN {u} < {BOOT_T[3]} THEN 3 ELSE 4 END"
    )


@register(
    "bootstrap_ci_revenue",
    oracle=f"""
        WITH expanded AS (
          SELECT b.b,
                 {_boot_weight_sql(f"(((o_orderkey * {BOOT_B} + b.b) % {BOOT_P}) * {BOOT_A} + {BOOT_C}) % {BOOT_P}")}
                   AS w,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders CROSS JOIN range({BOOT_B}) AS b(b)
        ),
        reps AS (
          SELECT b, CAST(sum(w * cents) AS BIGINT) AS s,
                 CAST(sum(w) AS BIGINT) AS n
          FROM expanded GROUP BY b
        ),
        means AS (SELECT s * 1.0 / n AS m FROM reps WHERE n > 0),
        pt AS (
          SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) * 1.0 / count(*) AS m0
          FROM orders
        )
        -- two GROUP-BY-less (always-one-row) aggregates cross-joined, so a
        -- degenerate corpus (no orders -> no replicate means) still yields
        -- exactly ONE all-NULL/0 row, matching Spark's global agg (found by
        -- the tpch fuzz: `FROM means, pt GROUP BY` emitted ZERO rows there)
        SELECT floor(pt.m0 * 100 + 0.5) / 100 AS mean_cents,
               floor(q.lo * 100 + 0.5) / 100 AS ci_lo_cents,
               floor(q.hi * 100 + 0.5) / 100 AS ci_hi_cents,
               q.n_reps
        FROM pt, (SELECT quantile_cont(m, 0.025) AS lo,
                         quantile_cont(m, 0.975) AS hi,
                         CAST(count(m) AS BIGINT) AS n_reps
                  FROM means) q
    """,
    doc=f"95% bootstrap CI for mean order value via the POISSON bootstrap ({BOOT_B} replicates, Poisson(1) weights from a portable Lehmer draw, thresholds baked as integer literals): the distributed resampling form — no resample is ever materialized, and both engines draw identical replicates.",
    tags=("relational", "statistics", "ext", "scale"),
)
def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error bars for a 100 TB metric. Classical bootstrap resamples rows
    WITH replacement — impossible to coordinate across a cluster; the
    standard distributed fix (the Poisson bootstrap) gives every (row,
    replicate) pair an independent Poisson(1) weight, which each executor
    draws locally: every replicate's weighted sum is one map-side-
    combinable aggregate, and the {BOOT_B} replicate means yield the
    percentile CI.

    Determinism: the "randomness" is the proven Lehmer map over
    (orderkey*{BOOT_B} + rep) — a bijection below P, so draws never
    repeat — against Poisson CDF thresholds precomputed as INTEGER
    literals (math.exp runs once, in this module, at import; neither
    engine evaluates a transcendental at query time — the bigram-ln
    lesson). Replicate sums are BIGINTs; each mean is one division of
    identical integers; the percentile interpolation is the proven
    Spark-percentile == DuckDB-quantile_cont parity.

    Scale: the expansion is rows x {BOOT_B} weight draws — pure
    scan-stage arithmetic that partial-aggregates to {BOOT_B} rows
    before the shuffle. Nothing is ever resampled or re-shuffled; cost
    is one scan regardless of B's size (B scales compute, not shuffle).
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    expanded = o.select(
        F.col("o_orderkey").alias("k"), cents.alias("cents")
    ).select(
        "k", "cents", F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("b")
    ).selectExpr(
        "b",
        "cents",
        _boot_weight_sql(
            f"(((k * {BOOT_B} + b) % {BOOT_P}) * {BOOT_A} + {BOOT_C}) % {BOOT_P}"
        )
        + " AS w",
    )
    reps = expanded.groupBy("b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("s"),
        F.sum("w").cast("long").alias("n"),
    )
    means = reps.filter(F.col("n") > 0).select(
        (F.col("s") * 1.0 / F.col("n")).alias("m")
    )
    pt = o.agg((F.sum(cents).cast("long") * 1.0 / F.count(F.lit(1))).alias("m0"))
    half_up2 = lambda c: F.floor(c * 100 + 0.5) / 100  # noqa: E731
    return (
        means.agg(
            F.percentile("m", F.lit(0.025)).alias("lo"),
            F.percentile("m", F.lit(0.975)).alias("hi"),
            F.count("m").cast("long").alias("n_reps"),
        )
        .crossJoin(F.broadcast(pt))
        .select(
            half_up2(F.col("m0")).alias("mean_cents"),
            half_up2(F.col("lo")).alias("ci_lo_cents"),
            half_up2(F.col("hi")).alias("ci_hi_cents"),
            "n_reps",
        )
    )


# ---------------------------------------------------------------------------
# [EXT r8b] Gini concentration of customer revenue — the inequality
# readout (how concentrated is revenue across customers), integer-exact
# via the rank-weighted-sum identity.
# ---------------------------------------------------------------------------
GINI_SCALE = 1_000_000


def _customer_cents_cum(spark: SparkSession, sf_dir: str):
    """Per-customer revenue cents as one row per DISTINCT value: its
    multiplicity ``c`` and the global inclusive cumulative count ``cum``
    (customers with cents <= this value), from ``ranks.prefix_sum``.
    Returns ``(cum_df, n, total)``; the customer count ``n`` and the
    revenue total ``total`` are exact Python ints (they feed loud
    overflow guards)."""
    from .ranks import prefix_sum

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    pv = per_cust.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # decimal(38,0): the revenue total stays EXACT past int64, so a
    # pathological value domain reaches the Python overflow guards
    # instead of overflowing mid-aggregate.
    ps = F.sum(F.col("cents").cast("decimal(38,0)") * F.col("c"))
    cum, (n, total) = prefix_sum(pv, [("cents", True)], "c", "cum", extra=(ps,))
    return cum, n, total


@register(
    "gini_revenue_concentration",
    oracle=f"""
        WITH per_cust AS (
          SELECT o_custkey,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY o_custkey
        ),
        ranked AS (
          SELECT cents,
                 row_number() OVER (ORDER BY cents, o_custkey) AS i,
                 count(*) OVER () AS n,
                 CAST(sum(cents) OVER () AS BIGINT) AS total
          FROM per_cust
        ),
        agg AS (
          SELECT CAST(max(n) AS BIGINT) AS n_customers,
                 CAST(max(total) AS BIGINT) AS total_cents,
                 CAST(sum((2 * i - n - 1) * cents) AS BIGINT) AS g_num,
                 CAST(sum(CASE WHEN i > n - (n // 10) THEN cents ELSE 0 END)
                      AS BIGINT) AS top_decile_cents
          FROM ranked
        )
        SELECT n_customers, total_cents,
               floor(g_num * {GINI_SCALE}.0
                     / (CAST(n_customers AS DOUBLE) * total_cents) + 0.5)
                 / {GINI_SCALE} AS gini,
               floor(top_decile_cents * {GINI_SCALE}.0 / total_cents + 0.5)
                 / {GINI_SCALE} AS top10pct_share
        FROM agg
    """,
    doc="Gini coefficient of per-customer revenue via the rank-weighted-sum identity (sum((2i-n-1)x_i) / (n*sum(x)) over the ascending total order) plus the top-decile revenue share — concentration as two divisions of exact BIGINTs.",
    tags=("relational", "statistics", "window", "ext", "scale"),
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration, the number behind every "top X% of
    customers drive Y% of revenue" claim: the Gini coefficient computed
    by the rank-weighted-sum identity G = sum_i (2i - n - 1) x_(i) /
    (n * sum x) over ascending-sorted per-customer revenue, with
    (cents, custkey) as the tie-free total order. The top-decile share
    is the operational companion (what a concentration RISK review
    actually reads).

    Exactness: per-customer cents are BIGINT sums; the numerator uses the
    per-value sum-of-ranks identity (sum over each value's rank block
    collapses to c*(2*C_prev + c - n), exact under ties by construction)
    and aggregates in decimal(38,0) — its bound n*total_cents crosses
    int64 at roughly 30x the test corpus, a REAL overflow the r8 BIGINT
    cut carried silently; loud Python-int guards hold the BIGINT
    internals under 2^62 and the decimal budget under 10^37; each output
    is one floor-quantized division of exactly-represented integers.

    Scale (r9 rewrite): NO global-order window anywhere (the r8 cut
    ranked the customer dimension through a single-partition rank
    window). The global cumulative counts come from the distributed
    prefix sum of `ranks.prefix_sum` (see its module docstring).
    """
    cum, n, total = _customer_cents_cum(spark, sf_dir)
    # Loud, engine-agnostic overflow guards in exact Python integers,
    # checked BEFORE either engine aggregates (the PCA overflow-budget
    # discipline). Two budgets: every BIGINT intermediate below is
    # bounded by total_cents (so total < 2^62 keeps int64 internals with
    # 2x headroom), and the decimal(38,0) numerator is bounded by
    # n * total_cents (10^37 keeps a 10x band inside the 38-digit type).
    # The r8 BIGINT numerator's own bound crossed int64 at ~30x the test
    # corpus — a REAL overflow, which is why g_num aggregates in decimal.
    if total >= 2**62:
        raise OverflowError(
            f"per-customer revenue total_cents = {total} exceeds 2^62; "
            "pre-bucket the value domain before ranking"
        )
    if n * total >= 10**37:
        raise OverflowError(
            f"gini numerator bound n*total_cents = {n * total} exceeds "
            "10^37 (decimal(38,0) budget); pre-bucket the value domain"
        )
    k = n // 10
    agg = cum.agg(
        F.sum("c").cast("long").alias("n_customers"),
        F.sum(F.col("cents") * F.col("c")).cast("long").alias("total_cents"),
        # per-value sum-of-ranks identity: the rank block for value v is
        # (C_prev, C_prev + c], and sum_{i in block}(2i - n - 1) collapses
        # to c * (2*C_prev + c - n) — exact under ties by construction.
        # decimal(38,0): |g_num| <= n * total_cents crosses int64 around
        # 30x the fixture; the 38-digit exact sum covers ~1e9 customers
        # x 1e18 total cents with room to spare. The terminal double
        # division below sees the same value either way (a decimal and a
        # BIGINT of equal value cast to the identical double), so the
        # oracle's BIGINT formulation stays hash-identical.
        F.sum(
            (F.col("cents") * F.col("c")).cast("decimal(38,0)")
            * (2 * (F.col("cum") - F.col("c")) + F.col("c") - F.lit(n))
        )
        .alias("g_num"),
        # top-decile ranks are i > n - k: value v contributes
        # clamp(cum - (n - k), 0, c) of its c customers.
        F.sum(
            F.col("cents")
            * F.greatest(
                F.lit(0), F.least(F.col("c"), F.col("cum") - F.lit(n - k))
            )
        )
        .cast("long")
        .alias("top_decile_cents"),
    )
    return agg.select(
        "n_customers",
        "total_cents",
        (
            F.floor(
                F.col("g_num")
                * float(GINI_SCALE)
                / (F.col("n_customers").cast("double") * F.col("total_cents"))
                + 0.5
            )
            / GINI_SCALE
        ).alias("gini"),
        (
            F.floor(
                F.col("top_decile_cents") * float(GINI_SCALE) / F.col("total_cents")
                + 0.5
            )
            / GINI_SCALE
        ).alias("top10pct_share"),
    )


# ---------------------------------------------------------------------------
# [EXT r8b] Two-sample Kolmogorov-Smirnov drift statistic — exact D as an
# integer-ratio (the CDF gap never computed in floating point).
# ---------------------------------------------------------------------------
KS_GROUP_A = "1-URGENT"
KS_GROUP_B = "5-LOW"


@register(
    "ks_two_sample_drift",
    oracle=f"""
        WITH vals AS (
          SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 CASE WHEN o_orderpriority = '{KS_GROUP_A}' THEN 1 ELSE 0 END AS a,
                 CASE WHEN o_orderpriority = '{KS_GROUP_B}' THEN 1 ELSE 0 END AS b
          FROM orders
          WHERE o_orderpriority IN ('{KS_GROUP_A}', '{KS_GROUP_B}')
        ),
        per_value AS (
          SELECT cents, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
          FROM vals GROUP BY cents
        ),
        cum AS (
          SELECT CAST(sum(na) OVER (ORDER BY cents) AS BIGINT) AS ca,
                 CAST(sum(nb) OVER (ORDER BY cents) AS BIGINT) AS cb,
                 CAST(sum(na) OVER () AS BIGINT) AS n1,
                 CAST(sum(nb) OVER () AS BIGINT) AS n2
          FROM per_value
        )
        -- nullif: a corpus missing one (or both) groups makes n1*n2 = 0
        -- and D undefined — NULL, not a divide-by-zero (the tpch fuzz
        -- drew exactly that corpus)
        SELECT max(n1) AS n1, max(n2) AS n2,
               CAST(max(abs(n2 * ca - n1 * cb)) AS BIGINT) AS d_num,
               floor(max(abs(n2 * ca - n1 * cb)) * 1000000.0
                     / nullif(max(n1) * max(n2), 0) + 0.5) / 1000000 AS d_stat
        FROM cum
    """,
    doc=f"Exact two-sample Kolmogorov-Smirnov statistic between the '{KS_GROUP_A}' and '{KS_GROUP_B}' order-value distributions: D's numerator max|n2*F1 - n1*F2| stays an INTEGER over the pooled value walk, so the supremum of a CDF gap — normally an FP minefield — is hash-exact.",
    tags=("relational", "statistics", "window", "ext", "scale"),
)
def ks_two_sample_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-shift test that needs no binning choices: the KS
    statistic D = sup_x |F1(x) - F2(x)| between two samples. PSI
    (`psi_drift_events`) needs bucket design and misses shifts inside a
    bucket; KS is the binless complement — and it is computable EXACTLY:
    walk the pooled distinct values in order, hold the two cumulative
    counts, and D's numerator max|n2*ca - n1*cb| never leaves BIGINT
    (the division by n1*n2 happens once, at the end). Overflow bound:
    n1*n2 <= (1.5e5)^2 ~ 2e10 at 10x — far inside int64.

    Scale: one scan-stage filter + per-value aggregate (map-side
    combinable), then the cumulative window over DISTINCT values only —
    a global-order window is a single-partition pass in Spark, so
    keeping rows out of it (only the value domain enters) is the same
    discipline as range_partition_boundaries; one scalar readout.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(KS_GROUP_A, KS_GROUP_B)
    )
    vals = o.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == KS_GROUP_A, 1).otherwise(0).alias("a"),
        F.when(F.col("o_orderpriority") == KS_GROUP_B, 1).otherwise(0).alias("b"),
    )
    per_value = vals.groupBy("cents").agg(
        F.sum("a").cast("long").alias("na"), F.sum("b").cast("long").alias("nb")
    )
    wc = Window.orderBy("cents")
    wall = Window.partitionBy()
    cum = per_value.select(
        F.sum("na").over(wc).cast("long").alias("ca"),
        F.sum("nb").over(wc).cast("long").alias("cb"),
        F.sum("na").over(wall).cast("long").alias("n1"),
        F.sum("nb").over(wall).cast("long").alias("n2"),
    )
    return cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(F.abs(F.col("n2") * F.col("ca") - F.col("n1") * F.col("cb")))
        .cast("long")
        .alias("d_num"),
        (
            F.floor(
                F.max(F.abs(F.col("n2") * F.col("ca") - F.col("n1") * F.col("cb")))
                * 1000000.0
                / F.nullif(F.max("n1") * F.max("n2"), F.lit(0))
                + 0.5
            )
            / 1000000
        ).alias("d_stat"),
    )


# ---------------------------------------------------------------------------
# [EXT r8b] Monthly time-weighted average price (TWAP) — irregular-series
# averaging where each observation counts for the days it was "current".
# ---------------------------------------------------------------------------
@register(
    "twap_monthly_revenue",
    oracle="""
        WITH daily AS (
          SELECT o_orderdate::DATE AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1
        ),
        weighted AS (
          SELECT strftime(day, '%Y-%m') AS month, cents,
                 CAST(
                   coalesce(lead(day) OVER (PARTITION BY strftime(day, '%Y-%m')
                                            ORDER BY day),
                            last_day(day) + INTERVAL 1 DAY)::DATE - day
                   AS BIGINT) AS w
          FROM daily
        )
        SELECT month,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(w) AS BIGINT) AS covered_days,
               floor(sum(w * cents) * 100.0 / sum(w) + 0.5) / 100
                 AS twap_cents
        FROM weighted GROUP BY month
    """,
    doc="Monthly time-weighted average of the daily revenue level: each observed day's value is weighted by the days until the next observation (last observation carries to month end) — the TWAP form that makes irregular series comparable, integer-exact.",
    tags=("relational", "timeseries", "window", "ext", "scale"),
)
def twap_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Averaging an IRREGULAR series: a plain AVG over observed days
    overweights dense stretches; the time-weighted mean holds each
    observation for the interval it was current (to the next observation,
    or month end for the last) — the TWAP/step-integral convention of
    finance and metering. Contrast `locf_forward_fill`, which
    materializes the filled series; TWAP integrates it without expansion.

    Exactness: weights are day-count BIGINTs (lead(day) within the month
    partition; the tail uses last_day + 1); the weighted sum is a
    BIGINT; one floor-quantized terminal division.

    Scale: one daily aggregate over the fact table, then a
    month-partitioned lead() window and a monthly aggregate over |days|
    rows — metadata scale, one shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    month = F.date_format("day", "yyyy-MM")
    wm = Window.partitionBy(month).orderBy("day")
    weighted = daily.select(
        month.alias("month"),
        "cents",
        F.datediff(
            F.coalesce(
                F.lead("day").over(wm), F.date_add(F.last_day("day"), 1)
            ),
            F.col("day"),
        )
        .cast("long")
        .alias("w"),
    )
    return weighted.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("w").cast("long").alias("covered_days"),
        (
            F.floor(
                F.sum(F.col("w") * F.col("cents")) * 100.0 / F.sum("w") + 0.5
            )
            / 100
        ).alias("twap_cents"),
    )


# ---------------------------------------------------------------------------
# [EXT r8b] Decile lift table — the model-evaluation staple: rank
# customers by spend, cut into deciles, read cumulative share and lift.
# ---------------------------------------------------------------------------
@register(
    "decile_lift_table",
    oracle="""
        WITH per_cust AS (
          SELECT o_custkey,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY o_custkey
        ),
        ranked AS (
          SELECT cents,
                 ntile(10) OVER (ORDER BY cents DESC, o_custkey ASC) AS decile
          FROM per_cust
        ),
        per_decile AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
                 CAST(sum(cents) AS BIGINT) AS decile_cents
          FROM ranked GROUP BY decile
        ),
        cum AS (
          SELECT decile, n_customers, decile_cents,
                 CAST(sum(decile_cents) OVER (ORDER BY decile) AS BIGINT)
                   AS cum_cents,
                 CAST(sum(n_customers) OVER (ORDER BY decile) AS BIGINT)
                   AS cum_customers,
                 CAST(sum(decile_cents) OVER () AS BIGINT) AS total_cents,
                 CAST(sum(n_customers) OVER () AS BIGINT) AS total_customers
          FROM per_decile
        )
        SELECT decile, n_customers, decile_cents,
               floor(cum_cents * 1000000.0 / total_cents + 0.5) / 1000000
                 AS cum_share,
               floor(cum_cents * 1.0 * total_customers * 1000000.0
                     / (total_cents * 1.0 * cum_customers) + 0.5) / 1000000
                 AS cum_lift
        FROM cum
    """,
    doc="Decile lift table over per-customer spend (ntile(10) on a tie-free total order): per-decile totals, cumulative revenue share, and cumulative lift vs uniform — the gains-chart table every targeting-model review reads, integer-exact to the two terminal divisions.",
    tags=("relational", "statistics", "window", "ext", "scale"),
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gains/lift chart as a table: customers ranked by spend, cut
    into deciles (ntile over the tie-free (cents DESC, custkey) order —
    deterministic on both engines), then cumulative revenue share and
    lift = share-of-revenue / share-of-population. Decile 1's lift is
    the "top-10% concentration" headline; the curve's shape is what a
    targeting model is judged against (`gini_revenue_concentration` is
    the same story as one number).

    Exactness: decile boundaries are the ntile rank blocks B_d =
    d*floor(n/10) + min(d, n mod 10), reproduced in closed form; a tied
    value straddling a boundary contributes identical sums whichever
    tied customers ntile would place on either side (equal cents), so
    the per-value overlap arithmetic is exactly ntile's table; all sums
    BIGINT; share and lift are floor-quantized terminal divisions with
    the identical IEEE association order as the oracle.

    Scale (r9 rewrite): NO global-order window — the r8 ntile cut was a
    single-partition pass over the whole customer dimension and the 30x
    curve measured it (2.97x wall for 3x data). Now the per-value
    cumulative counts come from `ranks.prefix_sum` (see its module
    docstring), the 10 decile rank blocks are computed in closed form on
    the driver from n alone, and one broadcast cross-join of the
    per-value rows against that 10-row spine yields every per-decile and
    cumulative sum in a single partition-parallel aggregate.
    """
    cum, n, total = _customer_cents_cum(spark, sf_dir)
    # Loud engine-agnostic overflow guard (gini's discipline): every
    # BIGINT sum below is bounded by total_cents, and F.lit(total) must
    # itself fit int64.
    if total >= 2**62:
        raise OverflowError(
            f"decile revenue total_cents = {total} exceeds 2^62; "
            "pre-bucket the value domain before ranking"
        )
    # ntile(10) block boundaries in closed form: decile d holds DESC
    # ranks (B[d-1], B[d]] with B[d] = d*(n//10) + min(d, n%10).
    base, rem = divmod(n, 10)
    bounds = [d * base + min(d, rem) for d in range(11)]
    spine = local_frame(
        spark,
        [(d, bounds[d - 1], bounds[d]) for d in range(1, 11)],
        "decile int, lo long, hi long",
    )
    # DESC-order cumulative counts from the ASC prefix sums: customers
    # with cents strictly greater = n - cum; value v occupies DESC ranks
    # (n - cum, n - cum + c].
    prev_d = F.lit(n) - F.col("cum")
    cum_d = prev_d + F.col("c")
    overlap = F.greatest(
        F.lit(0),
        F.least(cum_d, F.col("hi")) - F.greatest(prev_d, F.col("lo")),
    )
    head = F.greatest(F.lit(0), F.least(F.col("c"), F.col("hi") - prev_d))
    per_decile = (
        cum.crossJoin(F.broadcast(spine))
        .filter(head > 0)
        .groupBy("decile")
        .agg(
            F.sum(overlap).cast("long").alias("n_customers"),
            F.sum(F.col("cents") * overlap).cast("long").alias("decile_cents"),
            F.sum(F.col("cents") * head).cast("long").alias("cum_cents"),
            F.max("hi").cast("long").alias("cum_customers"),
        )
        .filter(F.col("n_customers") > 0)  # ntile emits no empty deciles
    )
    return per_decile.select(
        "decile",
        "n_customers",
        "decile_cents",
        (
            F.floor(F.col("cum_cents") * 1000000.0 / F.lit(total) + 0.5) / 1000000
        ).alias("cum_share"),
        (
            F.floor(
                F.col("cum_cents")
                * 1.0
                * F.lit(n)
                * 1000000.0
                / (F.lit(total) * 1.0 * F.col("cum_customers"))
                + 0.5
            )
            / 1000000
        ).alias("cum_lift"),
    )


# ---------------------------------------------------------------------------
# [EXT r8c] Cohort LTV curve — cumulative revenue per acquisition cohort
# by account age: the lifetime-value readout that prices acquisition.
# ---------------------------------------------------------------------------
@register(
    "cohort_ltv_curve",
    oracle="""
        WITH firsts AS (
          SELECT o_custkey,
                 date_trunc('month', min(o_orderdate::TIMESTAMP))::DATE
                   AS cohort_month
          FROM orders GROUP BY o_custkey
        ),
        aged AS (
          SELECT f.cohort_month,
                 CAST(datediff('month', f.cohort_month,
                               date_trunc('month', o.o_orderdate::TIMESTAMP)::DATE)
                      AS BIGINT) AS age_months,
                 CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
        ),
        per_age AS (
          SELECT cohort_month, age_months,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(cents) AS BIGINT) AS revenue_cents
          FROM aged GROUP BY 1, 2
        )
        SELECT cohort_month, age_months, n_orders, revenue_cents,
               CAST(sum(revenue_cents) OVER (PARTITION BY cohort_month
                                             ORDER BY age_months) AS BIGINT)
                 AS cum_revenue_cents
        FROM per_age
    """,
    doc="Cohort lifetime-value curve: customers grouped by first-order month, revenue accumulated by account age in months — the (cohort, age) revenue triangle with running LTV, the table that prices acquisition; month arithmetic and sums integer-exact.",
    tags=("relational", "window", "ext", "scale"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue companion to `events_retention_cohorts` (which counts
    ACTIVITY by cohort): group customers by acquisition month, then
    accumulate their revenue by account AGE — the (cohort x age) LTV
    triangle. Reading down a column compares cohort quality at equal
    age; the running sum is the LTV curve acquisition spend is priced
    against.

    Exactness: cohort and order months are date_trunc'd dates; the age
    is a whole-month difference (Spark months_between on month starts is
    integral; DuckDB datediff('month') counts the same boundaries);
    revenue and the running sum are BIGINTs.

    Scale: one customer aggregate (map-side), a broadcast-or-shuffle
    join back to the fact table on the customer key, a (cohort x age)-
    bounded aggregate, and a window PARTITIONED by cohort (parallel —
    no global-order window) over the bounded triangle.
    """
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("cohort_month")
    )
    aged = o.join(firsts, "o_custkey").select(
        "cohort_month",
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")).cast("date"),
            F.col("cohort_month"),
        )
        .cast("long")
        .alias("age_months"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    per_age = aged.groupBy("cohort_month", "age_months").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    w = Window.partitionBy("cohort_month").orderBy("age_months")
    return per_age.select(
        "cohort_month",
        "age_months",
        "n_orders",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents"),
    )


# ---------------------------------------------------------------------------
# [EXT r8c] Power-of-two value histogram — floor(log2(x)) computed EXACTLY
# as the binary digit count, no transcendental anywhere.
# ---------------------------------------------------------------------------
@register(
    "log2_value_histogram",
    oracle="""
        WITH vals AS (
          SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders
          WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 0
        )
        SELECT CAST(length(bin(cents)) - 1 AS BIGINT) AS log2_bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               min(cents) AS min_cents, max(cents) AS max_cents,
               CAST(sum(cents) AS BIGINT) AS bucket_cents
        FROM vals GROUP BY 1
    """,
    doc="Order-value histogram on power-of-two buckets: floor(log2(cents)) computed EXACTLY as binary-digit-count-minus-one (length(bin(x)) in both engines) — the doubling-bucket distribution view with zero transcendental calls.",
    tags=("relational", "statistics", "ext", "scale"),
)
def log2_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doubling-bucket histogram (the size-class view allocators,
    latency dashboards, and long-tailed-value monitors use): bucket k
    holds values in [2^k, 2^(k+1)). floor(log2(x)) via the FP log is
    exactly the transcendental-boundary trap this repo bans (the bigram
    ln lesson) — but for integers it has an exact form: the binary digit
    count. Both engines expose it as length(bin(x)), digit-for-digit
    identical (probed: 1->1, 5->3, 1024->11), so the bucketing is pure
    integer/string arithmetic. Zero-cent rows are excluded (log2
    undefined; the fixture has none, a hostile corpus might).

    Scale: one scan-stage expression + a map-side-combinable aggregate
    with ~64 output rows at ANY table size.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    vals = o.select(cents.alias("cents")).filter(F.col("cents") > 0)
    return (
        vals.groupBy(
            (F.length(F.bin("cents")) - 1).cast("long").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.sum("cents").cast("long").alias("bucket_cents"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r9] Per-nation revenue trend — grouped OLS slope in closed form over
# BIGINT moment sums (the ridge normal-equation discipline, per group).
# ---------------------------------------------------------------------------
TREND_EPOCH_YEAR = 1992  # month index t = (year-1992)*12 + (month-1)


@register(
    "nation_revenue_trend",
    oracle=f"""
        WITH monthly AS (
          SELECT c.c_nationkey AS nationkey,
                 CAST((year(o.o_orderdate) - {TREND_EPOCH_YEAR}) * 12
                      + (month(o.o_orderdate) - 1) AS BIGINT) AS t,
                 CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
          GROUP BY 1, 2
        ),
        mom AS (
          SELECT nationkey,
                 CAST(count(*) AS BIGINT) AS n_months,
                 CAST(sum(t) AS BIGINT) AS st,
                 CAST(sum(cents) AS BIGINT) AS sy,
                 CAST(sum(t * t) AS BIGINT) AS stt,
                 CAST(sum(t * cents) AS BIGINT) AS sty
          FROM monthly GROUP BY nationkey
        )
        SELECT nationkey, n_months,
               CAST(n_months * sty - st * sy AS BIGINT) AS slope_num,
               CAST(n_months * stt - st * st AS BIGINT) AS slope_den,
               floor((n_months * sty - st * sy) * 100.0
                     / nullif(n_months * stt - st * st, 0) + 0.5) / 100
                 AS slope_cents_per_month
        FROM mom
    """,
    doc="Per-nation monthly-revenue OLS slope solved in closed form from five BIGINT moment sums (n, St, Sy, Stt, Sty) — the grouped trend table a health dashboard reads, integer-exact to the one terminal division.",
    tags=("relational", "statistics", "ml", "ext", "scale"),
)
def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which market is growing? The per-group least-squares slope of
    monthly revenue, computed the way `ml_ridge_normal_eq` fits ridge:
    closed form over integer moment sums, never an iterative fit. The
    slope of y on t is (n*Sty - St*Sy) / (n*Stt - St*St); both numerator
    and denominator are exact BIGINTs, so the grouped regression is
    hash-exact (one floor-quantized terminal division). A single-month
    nation has den = 0 -> NULL slope (nullif, both engines).

    Exactness bound: t <= ~80 for the fixture era (months since
    1992-01), so |n*Sty| <= n_months * t_max * total_nation_cents ~
    80 * 80 * 1e12 ~ 6e15 at sf0.1 — 1000x headroom inside int64;
    pre-aggregate to quarters past that (documented, the gini
    discipline).

    Scale: one fact-table aggregate to (nation x month) — map-side
    combinable, the orders:customer join is a broadcast dimension join —
    then a 25-group moment aggregate; everything after runs on |nations|
    rows. No windows at all.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    t = (
        (F.year("o_orderdate") - TREND_EPOCH_YEAR) * 12
        + (F.month("o_orderdate") - 1)
    ).cast("long")
    monthly = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"), t.alias("t"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    mom = monthly.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("t").cast("long").alias("st"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("cents")).cast("long").alias("sty"),
    )
    num = F.col("n_months") * F.col("sty") - F.col("st") * F.col("sy")
    den = F.col("n_months") * F.col("stt") - F.col("st") * F.col("st")
    return mom.select(
        "nationkey",
        "n_months",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        (F.floor(num * 100.0 / F.nullif(den, F.lit(0)) + 0.5) / 100).alias(
            "slope_cents_per_month"
        ),
    )


# ---------------------------------------------------------------------------
# [EXT r9] Percent-of-parent rollup — nation share within region, region
# share of total: the hierarchical-share readout every drill-down UI shows.
# ---------------------------------------------------------------------------
@register(
    "share_of_parent_revenue",
    oracle="""
        WITH leaf AS (
          SELECT r.r_name, n.n_name,
                 CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS nation_cents
          FROM orders o
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n.n_regionkey
          GROUP BY 1, 2
        ),
        reg AS (
          SELECT r_name, CAST(sum(nation_cents) AS BIGINT) AS region_cents
          FROM leaf GROUP BY r_name
        ),
        tot AS (
          SELECT CAST(sum(nation_cents) AS BIGINT) AS total_cents FROM leaf
        )
        SELECT l.r_name, l.n_name, l.nation_cents, g.region_cents,
               floor(l.nation_cents * 1000000.0 / g.region_cents + 0.5)
                 / 1000000 AS share_in_region,
               floor(g.region_cents * 1000000.0 / t.total_cents + 0.5)
                 / 1000000 AS region_share_of_total
        FROM leaf l JOIN reg g ON g.r_name = l.r_name CROSS JOIN tot t
    """,
    doc="Hierarchical percent-of-parent rollup: revenue per (region, nation) with each nation's share within its region and each region's share of the grand total — two grouped aggregates joined back, no windows, integer-exact to the two quantized divisions.",
    tags=("relational", "agg", "join", "ext", "scale"),
)
def share_of_parent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drill-down table's contribution column: leaf revenue plus its
    share of the PARENT level (nation-in-region) and the parent's share
    of the grand total. The naive formulation is two `sum() over
    (partition by ...)` windows; this one reuses the grouped aggregates
    and joins them back — windows over a grouped result and joins are
    equivalent here, but the join form keeps every pass a hash
    aggregate (map-side combinable) and the two parent tables are
    broadcast-sized by construction (|regions|, 1).

    Scale: ONE fact scan to the (region, nation) leaf aggregate (the
    three dimension joins are broadcasts); region and total tables
    derive from the 25-row leaf — metadata. Shares are floor-quantized
    divisions of exact BIGINTs.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    leaf = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("nation_cents")
        )
    )
    reg = leaf.groupBy("r_name").agg(
        F.sum("nation_cents").cast("long").alias("region_cents")
    )
    tot = leaf.agg(F.sum("nation_cents").cast("long").alias("total_cents"))
    return (
        leaf.join(F.broadcast(reg), "r_name")
        .crossJoin(F.broadcast(tot))
        .select(
            "r_name",
            "n_name",
            "nation_cents",
            "region_cents",
            (
                F.floor(
                    F.col("nation_cents") * 1000000.0 / F.col("region_cents")
                    + 0.5
                )
                / 1000000
            ).alias("share_in_region"),
            (
                F.floor(
                    F.col("region_cents") * 1000000.0 / F.col("total_cents")
                    + 0.5
                )
                / 1000000
            ).alias("region_share_of_total"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r9] Pointwise mutual information between two categorical columns —
# the dependence screen, ln quantized to milli-nats with a guard band
# (the bigram-perplexity transcendental discipline).
# ---------------------------------------------------------------------------
PMI_SCALE = 1_000  # milli-nats (see bigram_perplexity_score's rationale)


@register(
    "pmi_priority_status",
    oracle=f"""
        WITH cells AS (
          SELECT o_orderpriority AS priority, o_orderstatus AS status,
                 CAST(count(*) AS BIGINT) AS n_xy
          FROM orders GROUP BY 1, 2
        ),
        px AS (SELECT priority, CAST(sum(n_xy) AS BIGINT) AS n_x
               FROM cells GROUP BY priority),
        py AS (SELECT status, CAST(sum(n_xy) AS BIGINT) AS n_y
               FROM cells GROUP BY status),
        tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cells)
        SELECT c.priority, c.status, c.n_xy,
               CAST(floor(ln(c.n_xy * 1.0 * t.n / (x.n_x * 1.0 * y.n_y))
                          * {PMI_SCALE}) AS BIGINT) AS pmi_milli
        FROM cells c
        JOIN px x ON x.priority = c.priority
        JOIN py y ON y.status = c.status
        CROSS JOIN tot t
    """,
    doc="Pointwise mutual information per (order-priority, order-status) cell in milli-nats: ln of the integer lift ratio quantized coarsely enough that the two engines' libm logs cannot straddle a floor boundary (guard-band-tested, the bigram-perplexity discipline) — the categorical dependence screen chi-square complements.",
    tags=("relational", "statistics", "ext", "scale"),
)
def pmi_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which priority/status combinations co-occur MORE than independence
    predicts? `chisq_priority_status_cells` answers "is there dependence
    at all"; PMI says where and which direction: pmi(x,y) =
    ln(p(x,y) / (p(x)p(y))) = ln(n_xy * n / (n_x * n_y)) per cell.

    Exactness: the lift argument is a ratio of exact integers evaluated
    through the identical IEEE expression shape in both engines; ln is
    the ONLY transcendental and is quantized to milli-nats — at
    |pmi| <= ~15 nats a 1-ulp libm disagreement moves the scaled value
    by ~2e-12, so a floor flip needs the true value within that of an
    integer; tests/test_r9_new_ops.py scans every distinct
    (n_xy * n, n_x * n_y) pair in the fixtures and asserts a >=1e-6
    guard band (>10^5x the worst-case disagreement), the exact regime
    bigram_perplexity_score pinned.

    Scale: one map-side-combinable aggregate to |X x Y| cells (15 here),
    two marginal aggregates OVER THE CELLS (not the fact table), and
    broadcast joins of metadata-sized tables. The fact table is scanned
    once.
    """
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
    px = cells.groupBy("priority").agg(F.sum("n_xy").cast("long").alias("n_x"))
    py = cells.groupBy("status").agg(F.sum("n_xy").cast("long").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").cast("long").alias("n"))
    return (
        cells.join(F.broadcast(px), "priority")
        .join(F.broadcast(py), "status")
        .crossJoin(F.broadcast(tot))
        .select(
            "priority",
            "status",
            "n_xy",
            F.floor(
                F.log(
                    F.col("n_xy") * 1.0 * F.col("n")
                    / (F.col("n_x") * 1.0 * F.col("n_y"))
                )
                * PMI_SCALE
            )
            .cast("long")
            .alias("pmi_milli"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r9b] Lag-k autocorrelation of the daily revenue series — the
# periodicity screen (is there a weekly cycle?), integer-exact moments.
# ---------------------------------------------------------------------------
ACF_SCALE = 1_000_000
ACF_MAX_LAG = 7


@register(
    "autocorr_daily_revenue",
    oracle=f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1
        ),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s
          FROM daily
        ),
        den AS (
          SELECT CAST(sum(CAST(t.n * d.cents - t.s AS HUGEINT)
                          * CAST(t.n * d.cents - t.s AS HUGEINT)) AS HUGEINT)
                   AS den
          FROM daily d CROSS JOIN tot t
        ),
        pairs AS (
          SELECT l.lag AS lag,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(CAST(t.n * a.cents - t.s AS HUGEINT)
                          * CAST(t.n * b.cents - t.s AS HUGEINT)) AS HUGEINT)
                   AS num
          FROM (SELECT unnest(range(1, {ACF_MAX_LAG} + 1)) AS lag) l
          JOIN daily a ON true
          JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
          CROSS JOIN tot t
          GROUP BY l.lag
        )
        SELECT p.lag, p.n_pairs,
               floor(CAST(p.num AS DOUBLE) * {ACF_SCALE}.0
                     / nullif(CAST(d.den AS DOUBLE), 0.0) + 0.5)
                 / {ACF_SCALE} AS acf
        FROM pairs p CROSS JOIN den d
        ORDER BY p.lag
    """,
    doc="Lag-1..7 autocorrelation of daily revenue: centered cross-products held exact by the n-scaling identity (n*x_t - S is an integer, so every product is an exact decimal/HUGEINT) — one quantized terminal division per lag; the weekly-cycle screen behind seasonal_decompose_daily_revenue.",
    tags=("relational", "statistics", "timeseries", "ext", "scale"),
)
def autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the revenue series periodic, and at what lag? The sample
    autocorrelation r_k = sum_t (x_t - m)(x_{t+k} - m) / sum_t (x_t - m)^2
    for k = 1..7 — the number that justifies (or falsifies) the 7-day
    seasonal period `seasonal_decompose_daily_revenue` assumes.

    Exactness: the mean m = S/n is rational, so center by the n-scaling
    identity instead: (n*x_t - S) is an exact integer and
    sum (n*x_t - S)(n*x_{t+k} - S) = n^2 * num_k. The n^2 cancels in the
    ratio, so both numerator and denominator aggregate as EXACT integers
    (decimal(38,0) here, HUGEINT in the oracle; bound n*(n*max_x + S)^2
    ~ 2e29 at sf0.1, and n is the CALENDAR day domain — fixed ~2405 —
    so 1000x data only squares S: ~3e36, still inside the loud 10^37
    guard). One floor-quantized double division per lag at the end.

    Scale: one fact scan to the |days|-sized daily table; the lag pairs
    come from an equi-join on day+k over that dimension-sized series
    (explode factor ACF_MAX_LAG, never the fact table); moments are
    map-side-combinable sums. No windows, no global sort.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    daily = daily.localCheckpoint(eager=True)  # reused three times below
    mrow = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.max("cents").cast("long").alias("mx"),
    ).collect()[0]  # bounded: one row
    if not mrow["n"]:  # empty series: no lags, no moments (fuzz corpus)
        return local_frame(spark, [], "lag long, n_pairs long, acf double")
    n_days, s_cents, max_cents = int(mrow["n"]), int(mrow["s"]), int(mrow["mx"])
    # Loud exact-integer guard (the gini/PCA discipline): every centered
    # deviation satisfies |n*x_t - S| <= n*max_x + S (the DATA's max, not
    # the worst case — the all-maximal bound n*(n+1)^2*S^2 is ~10^6x
    # looser and already fires at 10x the fixture), so the moment sums
    # are bounded by n*(n*max_x + S)^2 — ~2e31 at 10x, keeping >10^5x
    # headroom inside the 38-digit decimal budget.
    if n_days * (n_days * max_cents + s_cents) ** 2 >= 10**37:
        raise OverflowError(
            f"acf moment bound n*(n*max+S)^2 = {n_days * (n_days * max_cents + s_cents) ** 2} "
            "exceeds 10^37 (decimal(38,0) budget); pre-aggregate to weeks"
        )
    # n and s ride as EXACT literals (they were just collected for the
    # guard) — the long multiply n*x is bounded by the guard, and the
    # tot-DataFrame crossJoin shape this replaces re-ran the aggregate
    # and plumbed two joins for the same two integers
    n_l = F.lit(n_days).cast("long")
    s_l = F.lit(s_cents).cast("long")
    dev = (n_l * F.col("cents") - s_l).cast("decimal(38,0)")
    den = daily.agg(F.sum(dev * dev).alias("den"))
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(1, ACF_MAX_LAG + 1)])
    ).alias("lag")
    a = daily.select(lags, "day", F.col("cents").alias("ca"))
    b = daily.select(F.col("day").alias("bday"), F.col("cents").alias("cb"))
    deva = (n_l * F.col("ca") - s_l).cast("decimal(38,0)")
    devb = (n_l * F.col("cb") - s_l).cast("decimal(38,0)")
    pairs = (
        a.join(b, F.date_add(F.col("day"), F.col("lag").cast("int")) == F.col("bday"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(deva * devb).alias("num"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            (
                F.floor(
                    F.col("num").cast("double") * float(ACF_SCALE)
                    / F.nullif(F.col("den").cast("double"), F.lit(0.0))
                    + 0.5
                )
                / ACF_SCALE
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# [EXT r9b] 7-day rolling lower median of daily revenue — the robust
# trend line (a moving average a single spike can't drag).
# ---------------------------------------------------------------------------
@register(
    "rolling_median_revenue_7d",
    oracle="""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1
        ),
        win AS (
          SELECT day, cents,
                 list(cents) OVER (ORDER BY day
                                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS w
          FROM daily
        )
        SELECT day, cents,
               CAST(len(w) AS BIGINT) AS n_window,
               list_sort(w)[CAST((len(w) + 1) // 2 AS INTEGER)]
                 AS median_cents_7d
        FROM win
    """,
    doc="Per-day rolling 7-day lower median of daily revenue via a bounded ROWS frame: collect the <=7-element window, sort, take the (n+1)/2-th order statistic — the robust moving trend, integer-exact (no interpolation).",
    tags=("relational", "statistics", "timeseries", "window", "ext"),
)
def rolling_median_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust alternative to the 7-day moving average
    `seasonal_decompose_daily_revenue` uses: a single promotional spike
    moves a mean by spike/7 but cannot move the median at all (breakdown
    point 3 of 7). Lower median (the (n+1)//2-th order statistic of the
    sorted window) keeps every output an actual observed BIGINT — no
    even-count interpolation, so the hash check is exact.

    Scale: the window runs over the DAILY series — the calendar-bounded
    ~2400-row value domain (the ks_two_sample_drift dispensation:
    fixed-domain dimension, not data-proportional), after one map-side-
    combinable fact aggregate. The frame is ROWS-bounded at 7, so state
    per row is constant; at a larger day domain, partition by year and
    stitch the 6-row seams (documented, not needed at this domain size).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day",
        "cents",
        F.collect_list("cents").over(w).alias("wlist"),
    )
    return win.select(
        "day",
        "cents",
        F.size("wlist").cast("long").alias("n_window"),
        F.element_at(
            F.array_sort("wlist"),
            ((F.size("wlist") + 1) / 2).cast("int"),
        ).alias("median_cents_7d"),
    )


# ---------------------------------------------------------------------------
# [EXT r9b] Haar wavelet pyramid of the daily revenue series — exact
# multi-resolution rollup (approximations + details), zero FP anywhere.
# ---------------------------------------------------------------------------
HAAR_EPOCH = "1992-01-01"
HAAR_LEVELS = 4


@register(
    "haar_wavelet_daily_revenue",
    oracle=f"""
        WITH daily AS (
          SELECT CAST(datediff('day', DATE '{HAAR_EPOCH}',
                               CAST(o_orderdate AS DATE)) AS BIGINT) AS i,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1
        )
        SELECT l.level,
               CAST(d.i // (1 << l.level) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(d.cents) AS BIGINT) AS approx_cents,
               CAST(sum(CASE WHEN (d.i // (1 << (l.level - 1))) % 2 = 0
                             THEN d.cents ELSE -d.cents END) AS BIGINT)
                 AS detail_cents
        FROM daily d
        CROSS JOIN (SELECT CAST(unnest(range(1, {HAAR_LEVELS} + 1)) AS BIGINT)
                      AS level) l
        WHERE d.i >= 0
        GROUP BY 1, 2
    """,
    doc="Unnormalized Haar wavelet pyramid over the zero-filled daily revenue signal: per (level 1..4, bucket of 2^level days) the approximation (bucket sum) and detail (left-half minus right-half) coefficients — the exact multi-resolution rollup, pure integer arithmetic.",
    tags=("relational", "statistics", "timeseries", "ext", "scale"),
)
def haar_wavelet_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-resolution view a time-series store keeps alongside the
    raw signal: at level L the series is summarized by 2^L-day buckets,
    each carrying the unnormalized Haar pair (approximation = bucket
    sum, detail = left-child sum - right-child sum). Reading levels
    coarse-to-fine reconstructs the signal exactly (approx and detail
    determine both children), so this IS a lossless rollup — the basis
    for burst detection at multiple scales and progressive rendering.
    Missing calendar days contribute zero (the zero-filled signal),
    which the bucket aggregate gets for free.

    Exactness: every coefficient is a signed BIGINT sum of cents —
    no normalization by sqrt(2) (deferred to read time), no FP at all.

    Scale: one fact scan to the |days|-sized daily table, then ONE
    map-side-combinable aggregate over a 4x explode of that
    dimension-sized series (level tags ride along; the fact table is
    never exploded). Output ~ |days|, bounded by the calendar domain.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit(HAAR_EPOCH)))
        .cast("long")
        .alias("i")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    levels = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(l).cast("long").alias("level"),
                    F.lit(2**l).cast("long").alias("w"),
                    F.lit(2 ** (l - 1)).cast("long").alias("hw"),
                )
                for l in range(1, HAAR_LEVELS + 1)
            ]
        )
    ).alias("lv")
    # pre-epoch days are excluded rather than bucketed: both engines'
    # integer division truncates toward zero here, so indexes in
    # (-2^l, 2^l) would all collapse into a malformed bucket 0 and break
    # the dyadic pyramid (the identities assume non-negative indexes) —
    # a wider corpus should move HAAR_EPOCH, not rely on negative buckets.
    daily = daily.filter(F.col("i") >= 0)
    tagged = daily.select("i", "cents", levels).select(
        F.col("lv.level").alias("level"),
        (F.col("i") / F.col("lv.w")).cast("long").alias("bucket"),
        F.when((F.col("i") / F.col("lv.hw")).cast("long") % 2 == 0, F.col("cents"))
        .otherwise(-F.col("cents"))
        .alias("signed_cents"),
        "cents",
    )
    return tagged.groupBy("level", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("cents").cast("long").alias("approx_cents"),
        F.sum("signed_cents").cast("long").alias("detail_cents"),
    )


# ---------------------------------------------------------------------------
# [EXT r9b] ABC / Pareto classification of parts by revenue — "which 20%
# of the catalog is 80% of the business", via the distributed prefix sum
# weighted by revenue (NO global-order window).
# ---------------------------------------------------------------------------
ABC_A_PCT = 80
ABC_B_PCT = 95


@register(
    "abc_pareto_classification",
    oracle=f"""
        WITH per_part AS (
          SELECT l_partkey,
                 CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
          SELECT l_partkey, cents,
                 CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS cum,
                 CAST(sum(cents) OVER () AS BIGINT) AS total
          FROM per_part
        ),
        classed AS (
          SELECT CASE WHEN cum * 100 <= total * {ABC_A_PCT} THEN 'A'
                      WHEN cum * 100 <= total * {ABC_B_PCT} THEN 'B'
                      ELSE 'C' END AS abc_class,
                 cents, total
          FROM ranked
        )
        SELECT abc_class,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(cents) AS BIGINT) AS class_cents,
               floor(sum(cents) * 1000000.0 / max(total) + 0.5) / 1000000
                 AS revenue_share
        FROM classed GROUP BY abc_class
    """,
    doc=f"ABC inventory classification: parts ranked by descending revenue, class A = the head covering {ABC_A_PCT}% of cumulative revenue, B to {ABC_B_PCT}%, C the tail — cumulative sums via the distributed prefix sum (ranks.prefix_sum), classification as pure integer comparisons.",
    tags=("relational", "statistics", "ext", "scale"),
)
def abc_pareto_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto head/tail split every inventory and corpus-curation
    review starts from: rank parts by revenue descending, then class A
    is the prefix whose inclusive cumulative revenue is <= 80% of total,
    B to 95%, C the rest. The classification predicate is cum*100 <=
    total*PCT over exact BIGINTs — no FP anywhere in the decision, so
    the boundary part lands identically on both engines.

    Scale: per-part cents is one map-side-combinable fact aggregate.
    The global cumulative revenue over DESCENDING cents never runs a
    global-order window: it is a `ranks.prefix_sum` over the per-value
    rows (see its module docstring), and ties (same cents, different
    part) resolve with a rank window PARTITIONED BY cents (tie blocks,
    never the dimension). Output is 3 rows at any scale.
    """
    from .ranks import prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    pv = per_part.groupBy("cents").agg(F.sum("cents").cast("long").alias("s"))
    cum, (total,) = prefix_sum(pv, [("cents", False)], "s", "cum")
    # the classification predicates compute cum*100 and total*95 in
    # BIGINT, so the loud bound is 2^63/100 (~9.2e16), NOT 2^62 — the
    # looser guard would let a ~4000x corpus reach a mid-query ANSI
    # ArithmeticException instead of this error
    if total >= 2**63 // 100:
        raise OverflowError(
            f"total revenue cents {total} exceeds 2^63/100 (the cum*100 "
            "classification predicate's BIGINT budget); pre-scale cents"
        )
    # cumulative revenue of all value blocks STRICTLY ABOVE this cents
    # value (exclusive of the block itself)
    cum_val = cum.select("cents", (F.col("cum") - F.col("s")).alias("cum_excl"))
    wtie = Window.partitionBy("cents").orderBy("l_partkey")
    per_key = (
        per_part.join(cum_val, "cents")
        .withColumn("tie_rank", F.row_number().over(wtie).cast("long"))
        .select(
            "cents",
            (F.col("cum_excl") + F.col("tie_rank") * F.col("cents")).alias("cum"),
        )
    )
    # lit(total) must be LONG explicitly: a small fuzz-corpus total makes
    # an INT literal, and total*95 then overflows int32 under ANSI
    tot_l = F.lit(total).cast("long")
    classed = per_key.select(
        "cents",
        F.when(F.col("cum") * 100 <= tot_l * ABC_A_PCT, F.lit("A"))
        .when(F.col("cum") * 100 <= tot_l * ABC_B_PCT, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("class_cents"),
        (
            F.floor(F.sum("cents") * 1000000.0 / F.lit(float(total)) + 0.5)
            / 1000000
        ).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# [EXT r9b] Largest-remainder (Hamilton) apportionment — allocate an
# integer budget across nations exactly proportional to revenue.
# ---------------------------------------------------------------------------
ALLOC_BUDGET = 1_000_000


@register(
    "allocation_largest_remainder",
    oracle=f"""
        WITH per_nation AS (
          SELECT n.n_name,
                 CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM per_nation),
        base AS (
          SELECT p.n_name, p.cents,
                 CAST(p.cents * {ALLOC_BUDGET} // t.t AS BIGINT) AS floor_units,
                 CAST(p.cents * {ALLOC_BUDGET} % t.t AS BIGINT) AS rem
          FROM per_nation p CROSS JOIN tot t
        ),
        short AS (
          SELECT CAST({ALLOC_BUDGET} - sum(floor_units) AS BIGINT) AS k
          FROM base
        )
        SELECT b.n_name, b.cents, b.floor_units,
               CAST(CASE WHEN row_number() OVER (ORDER BY b.rem DESC, b.n_name)
                              <= s.k THEN 1 ELSE 0 END AS BIGINT) AS extra,
               b.floor_units
                 + CASE WHEN row_number() OVER (ORDER BY b.rem DESC, b.n_name)
                             <= s.k THEN 1 ELSE 0 END AS alloc_units
        FROM base b CROSS JOIN short s
    """,
    doc=f"Hamilton largest-remainder apportionment of a {ALLOC_BUDGET}-unit budget across nations proportional to revenue: integer floors plus one extra unit to the largest remainders, so the allocation sums EXACTLY to the budget — all-integer arithmetic (the rounding scheme that never violates quota).",
    tags=("relational", "statistics", "ext"),
)
def allocation_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How a fixed budget (sampling quota, rate limit, shelf space) is
    split proportionally WITHOUT fractional units and WITHOUT the
    sum-drift naive rounding causes: floor each proportional share, then
    hand the leftover k units to the k largest remainders (ties broken
    by name). sum(alloc) == budget exactly, and every share is within
    one unit of exact proportionality — the Hamilton method.

    Exactness: shares as cents*B // T and cents*B % T over exact
    BIGINTs; |cents*B| <= T*B, loudly guarded under 2^62 (at a larger
    corpus pre-scale cents — the gini discipline). No FP anywhere.

    Scale: one fact aggregate to |nations| rows (broadcast dimension
    joins); the remainder rank window runs over that METADATA-sized
    table (25 rows) — the bounded-window dispensation, not the
    data-proportional global sort the prefix-sum ops eliminated.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    trow = per_nation.agg(F.sum("cents"), F.min("cents")).collect()[0]  # bounded
    if trow[0] is None:  # no orders at all (fuzz corpus): nothing to split
        return local_frame(
            spark,
            [],
            "n_name string, cents long, floor_units long, extra long, "
            "alloc_units long",
        )
    total = int(trow[0])
    # Loud preconditions (r10 sign-sensitivity sweep): largest-remainder
    # apportionment is undefined for negative weights, and a negative
    # cents would also split the engines silently (Spark `div` truncates,
    # SQL `//` floors — quotients differ when negative). A zero total
    # with rows present has no defined shares either.
    if int(trow[1]) < 0:
        raise ValueError(
            "allocation_largest_remainder: negative per-nation revenue "
            f"({trow[1]} cents) — apportionment weights must be non-negative"
        )
    if total == 0:
        raise ValueError(
            "allocation_largest_remainder: all weights are zero; shares undefined"
        )
    if total * ALLOC_BUDGET >= 2**62:
        raise OverflowError(
            f"cents*budget bound {total * ALLOC_BUDGET} exceeds 2^62; "
            "pre-scale cents before apportioning"
        )
    base = per_nation.select(
        "n_name",
        "cents",
        # integer `div`, never FP: cents*B ~ 4e17 exceeds double's exact
        # integer range (2^53), so a float division here would mis-floor.
        F.expr(f"(cents * {ALLOC_BUDGET}) div {total}").cast("long")
        .alias("floor_units"),
        F.pmod(F.col("cents") * ALLOC_BUDGET, F.lit(total)).alias("rem"),
    )
    short = base.agg(
        (F.lit(ALLOC_BUDGET) - F.sum("floor_units")).cast("long").alias("k")
    )
    wrem = Window.orderBy(F.col("rem").desc(), F.col("n_name").asc())
    return (
        base.crossJoin(F.broadcast(short))
        .withColumn("rn", F.row_number().over(wrem).cast("long"))
        .select(
            "n_name",
            "cents",
            "floor_units",
            F.when(F.col("rn") <= F.col("k"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("extra"),
            (
                F.col("floor_units")
                + F.when(F.col("rn") <= F.col("k"), F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("alloc_units"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r9b] Interval-overlap pro-ration — revenue spread across the
# calendar months an order's fulfillment interval covers, via the
# bucketed (bounded-explode) range join, all-integer day arithmetic.
# ---------------------------------------------------------------------------
@register(
    "interval_month_overlap_revenue",
    oracle="""
        WITH iv0 AS (
          SELECT o.o_orderkey,
                 CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(o.o_orderdate AS DATE) AS d1,
                 CAST(max(l.l_shipdate) AS DATE) AS d2
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY 1, 2, 3
        ),
        iv AS (
          SELECT o_orderkey, cents,
                 least(d1, d2) AS start_d, greatest(d1, d2) AS end_d
          FROM iv0
        ),
        m AS (
          SELECT iv.*,
                 unnest(generate_series(date_trunc('month', start_d),
                                        date_trunc('month', end_d),
                                        INTERVAL 1 MONTH))::DATE AS month
          FROM iv
        ),
        pro AS (
          SELECT month, cents,
                 datediff('day', greatest(start_d, month),
                          least(end_d, last_day(month))) + 1 AS overlap_days,
                 datediff('day', start_d, end_d) + 1 AS total_days
          FROM m
        )
        SELECT month,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(overlap_days) AS BIGINT) AS covered_days,
               CAST(sum(cents * overlap_days // total_days) AS BIGINT)
                 AS prorated_cents
        FROM pro GROUP BY month
    """,
    doc="Revenue pro-rated across the calendar months each order's fulfillment interval [orderdate, last shipdate] covers, weighted by days-in-month — the interval-overlap (range) join realized as a BOUNDED month explode + hash aggregate, with all-integer day arithmetic and floor-division pro-ration.",
    tags=("relational", "timeseries", "join", "ext", "scale"),
)
def interval_month_overlap_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accrual view of revenue: an order open from Jan 20 to Mar 5
    contributes to January, February, AND March, each in proportion to
    the days it spans there — the interval-overlap join every
    billing/occupancy/utilization pipeline needs. The naive form is a
    theta-join (order interval x month dimension, non-equi on overlap);
    the scalable form used here EXPLODES each interval to the months it
    covers and hash-aggregates — candidate generation is a bounded-
    fan-out scan stage, never a cross product (the bucketed-range-join
    pattern). The bound is the DATE-DOMAIN width in months (~82 in the
    fixtures, whose synthetic shipdates roam the whole calendar — even
    BEFORE the order date, so endpoints are least/greatest-normalized),
    a fixed constant as data grows; for genuinely unbounded intervals,
    cap the explode and overflow into an "open" bucket.

    Exactness: overlap and total days are integer datediffs; the
    pro-ration is integer floor division (cents*overlap div total) — no
    FP anywhere, so per-month remainders are deterministically dropped
    (documented: sum(prorated) <= cents per order, the conservative
    accrual convention).

    Scale: one fact-fact join on orderkey (co-partitioned keys), a <=6x
    bounded explode, then a map-side-combinable aggregate to |months|
    rows. No windows.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # pre-aggregate the wide fact BEFORE the join: max(shipdate) per order
    # combines map-side, so the join input is |orders|-sized on both sides
    # (joining first would shuffle every lineitem row through the groupBy)
    last_ship = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("d2")
    )
    # Loud non-negative guard (r10 sign-sensitivity sweep): the per-month
    # pro-ration below floor-divides cents — Spark `div` truncates while
    # SQL `//` floors, so a NEGATIVE cents would silently split the
    # engines (the bitmap/business-days class). assert_true returns NULL
    # on pass, preserving the value. A NULL o_totalprice PASSES the guard
    # (isNull disjunct, r10 ADVICE): SQL arithmetic propagates NULL in
    # both engines, so NULL-in → NULL-out is the cross-engine-safe path;
    # only a definitely-negative value raises.
    cents_raw = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    cents_guarded = F.when(
        F.assert_true(
            cents_raw.isNull() | (cents_raw >= 0),
            F.lit(
                "interval_month_overlap_revenue: negative order revenue — "
                "pro-ration's integer division requires non-negative cents"
            ),
        ).isNull(),
        cents_raw,
    )
    iv = (
        o.select(
            "o_orderkey",
            cents_guarded.alias("cents"),
            F.to_date("o_orderdate").alias("d1"),
        )
        .join(last_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "cents",
            F.least("d1", "d2").alias("start_d"),
            F.greatest("d1", "d2").alias("end_d"),
        )
    )
    m = iv.select(
        "cents",
        "start_d",
        "end_d",
        F.explode(
            F.expr(
                "sequence(trunc(start_d, 'MM'), trunc(end_d, 'MM'), "
                "interval 1 month)"
            )
        ).alias("month"),
    )
    overlap = (
        F.datediff(
            F.least(F.col("end_d"), F.last_day("month")),
            F.greatest(F.col("start_d"), F.col("month")),
        )
        + 1
    ).cast("long")
    total = (F.datediff("end_d", "start_d") + 1).cast("long")
    pro = m.select(
        "month",
        "cents",
        overlap.alias("overlap_days"),
        total.alias("total_days"),
    )
    return pro.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("overlap_days").cast("long").alias("covered_days"),
        F.sum(F.expr("cents * overlap_days div total_days"))
        .cast("long")
        .alias("prorated_cents"),
    )


# ---------------------------------------------------------------------------
# [EXT r9b] Business-day interval arithmetic — weekday counts in closed
# form (no calendar table, no per-day iteration), pure integer.
# ---------------------------------------------------------------------------
BD_EPOCH = "1900-01-01"  # a Monday BELOW any plausible corpus date, so
# day indexes stay non-negative (r9 ADVICE: Spark div/% truncate while
# DuckDB //,% floor — the engines split on NEGATIVE day indexes, e.g.
# d=-1 gives -1 vs -6; with a 1900 epoch + the loud guard below, no
# negative index can reach _bd_f). Both epochs tried are Mondays, so
# f(hi)-f(lo) — the only consumed quantity — is epoch-invariant.


def _bd_f(day_idx: str) -> str:
    """Closed-form weekday count in [epoch, epoch + day_idx): full weeks
    contribute 5, the partial week contributes min(remainder, 5) —
    identical SQL in both engines ONLY for non-negative day_idx
    (truncating vs flooring division; the caller guards)."""
    return f"(({day_idx}) // 7 * 5 + least(({day_idx}) % 7, 5))"


@register(
    "business_days_to_ship",
    oracle=f"""
        WITH iv AS (
          SELECT datediff('day', DATE '{BD_EPOCH}',
                          least(CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE))) AS lo,
                 datediff('day', DATE '{BD_EPOCH}',
                          greatest(CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE))) AS hi
          FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ),
        bd AS (
          SELECT CAST({_bd_f('hi')} - {_bd_f('lo')} AS BIGINT) AS business_days,
                 CAST(hi - lo AS BIGINT) AS calendar_days
          FROM iv
        )
        SELECT business_days,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(min(calendar_days) AS BIGINT) AS min_calendar_days,
               CAST(max(calendar_days) AS BIGINT) AS max_calendar_days
        FROM bd GROUP BY business_days
    """,
    doc="Business days between order and ship dates via the closed-form weekday count f(d) = d//7*5 + min(d%7, 5) against a Monday epoch — SLA arithmetic with no calendar dimension, no per-day explode, and no FP; bucketed into the lead-time histogram an ops dashboard reads.",
    tags=("relational", "timeseries", "ext", "scale"),
)
def business_days_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA lead times are quoted in BUSINESS days; the naive computations
    are a calendar-dimension join or a per-day explode. The closed form
    needs neither: anchor day indexes to a MONDAY epoch, then
    f(d) = (d div 7)*5 + min(d mod 7, 5) counts weekdays before day d,
    and business_days(lo, hi) = f(hi) - f(lo) — two integer expressions
    per row, exact, engine-identical (the fixtures' synthetic shipdates
    can precede the order date, so endpoints are least/greatest-
    normalized like interval_month_overlap_revenue). Holidays are a
    broadcast exclusion list at a real deployment (documented, not
    fabricated here).

    Scale: one fact-fact equi-join on the natural key and one map-side-
    combinable aggregate to a <=|distinct lead times| histogram. No
    calendar spine, no explode, no windows.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch = F.to_date(F.lit(BD_EPOCH))
    lo_raw = F.datediff(
        F.least(F.to_date("o_orderdate"), F.to_date("l_shipdate")), epoch
    )
    # Loud guard (r9 ADVICE #2): _bd_f's closed form needs non-negative
    # day indexes (truncating vs flooring div split the engines below the
    # epoch). lo <= hi, so guarding lo covers both. assert_true returns
    # NULL on pass, so the when() preserves lo's type and value. A NULL
    # date PASSES the guard (isNull disjunct, r10 ADVICE): datediff over
    # NULL propagates NULL in both engines, the cross-engine-safe path;
    # only a definitely-pre-epoch date raises.
    lo_guarded = F.when(
        F.assert_true(
            lo_raw.isNull() | (lo_raw >= 0),
            F.lit(
                f"business_days_to_ship: date precedes BD_EPOCH ({BD_EPOCH}); "
                "_bd_f requires non-negative day indexes"
            ),
        ).isNull(),
        lo_raw,
    )
    j = li.join(o, o["o_orderkey"] == li["l_orderkey"]).select(
        lo_guarded.alias("lo"),
        F.datediff(
            F.greatest(F.to_date("o_orderdate"), F.to_date("l_shipdate")), epoch
        ).alias("hi"),
    )
    bd = j.select(
        (
            F.expr(_bd_f("hi").replace("//", "div"))
            - F.expr(_bd_f("lo").replace("//", "div"))
        )
        .cast("long")
        .alias("business_days"),
        (F.col("hi") - F.col("lo")).cast("long").alias("calendar_days"),
    )
    return bd.groupBy("business_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.min("calendar_days").alias("min_calendar_days"),
        F.max("calendar_days").alias("max_calendar_days"),
    )


# ---------------------------------------------------------------------------
# [EXT r9b] Dyadic time-decay scoring — recency-weighted customer value
# with half-life weights as pure integer shifts (the feature-store
# "decayed count" without a single FP op).
# ---------------------------------------------------------------------------
DECAY_MAX_SHIFT = 62


@register(
    "time_decay_customer_score",
    oracle=f"""
        WITH anchor AS (
          SELECT max(CAST(o_orderdate AS DATE)) AS a FROM orders
        ),
        scored AS (
          SELECT o.o_custkey,
                 CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                   >> CAST(least(datediff('day', CAST(o.o_orderdate AS DATE),
                                          an.a) // 364, {DECAY_MAX_SHIFT})
                           AS INTEGER) AS decayed_cents,
                 CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders o CROSS JOIN anchor an
        )
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS raw_cents,
               CAST(sum(decayed_cents) AS BIGINT) AS decayed_cents
        FROM scored GROUP BY o_custkey
    """,
    doc="Recency-weighted customer value with a 364-day (52-week) half-life: each order contributes cents >> floor(age/364) — the exponential time-decay every feature store applies, realized as an integer arithmetic shift (no exp(), no FP), anchored to the corpus max date.",
    tags=("relational", "timeseries", "ml", "ext", "scale"),
)
def time_decay_customer_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Recent revenue matters more': the standard exponential decay
    w = 2^(-age/half_life) is an exp() away from cross-engine FP drift —
    unless the half-life is applied in whole periods, where the weight
    becomes a RIGHT SHIFT: cents >> (age div 364). Each order's decayed
    contribution is then an exact integer, the aggregate is a BIGINT
    sum, and the score is hash-exact while behaving like the
    feature-store decayed counter (year-old revenue halves, two-year-old
    quarters, ...). The shift is clamped at {DECAY_MAX_SHIFT} (beyond
    which the contribution is 0 anyway) so a hostile far-past date
    cannot produce an out-of-range shift. The anchor is the corpus max
    order date — data-dependent but computed identically in both engines
    (broadcast one-row cross join, the PMI marginals pattern).

    Scale: one scan-stage expression + one map-side-combinable aggregate
    to |customers| rows; the anchor is a broadcast singleton. No windows.
    """
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("a"))
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    scored = o.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        cents.alias("cents"),
        F.expr(
            f"shiftright(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), "
            f"CAST(least(datediff(a, to_date(o_orderdate)) div 364, "
            f"{DECAY_MAX_SHIFT}) AS INT))"
        ).alias("decayed_cents"),
    )
    return scored.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("raw_cents"),
        F.sum("decayed_cents").cast("long").alias("decayed_cents"),
    )
