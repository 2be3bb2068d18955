"""Round-10 verdict items, fixed-with-test.

1. `customer_rfm_segments` and `quality_tiers` rewritten off their
   data-proportional global-order ntile windows onto the distributed
   prefix-sum (`global_row_ranks`) + closed-form `ntile_from_rank`
   (r9 VERDICT "What's wrong" #1/#2) — plan-gated here.
2. `vocab_oov_rate`'s top-K vocabulary now compiles to
   TakeOrderedAndProject (per-partition heaps), not a single-partition
   row_number window (finding #3).
3. The no-Window-over-SinglePartition gate goes GLOBAL: every
   registered non-streaming query's executed plan is swept, and the
   only admissible global-order windows are the enumerated BOUNDED ones
   (value-domain / calendar / grid-sized row sets) — so the
   data-proportional class cannot silently reappear (verdict task 3).
"""

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from distributed_deep_learning_with_apache_spark_spark.operators.ranks import (
    global_row_ranks,
    ntile_from_rank,
)
from distributed_deep_learning_with_apache_spark_spark.registry import load_all

REG = load_all()


def _window_over_single_partition(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if re.search(r"\bWindow\b", ln):
            block = "\n".join(lines[i : i + 6])
            if "SinglePartition" in block:
                bad.append(block)
    return bad


# ---------------------------------------------------------------------------
# ntile_from_rank: closed form == engine ntile, across the bucket-size
# boundary cases (n < k, n == k, n % k != 0, one fat bucket, huge k)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("n", [1, 2, 3, 4, 5, 7, 8, 11, 13, 32, 100, 101])
@pytest.mark.parametrize("k", [1, 2, 4, 7])
def test_ntile_from_rank_matches_engine_ntile(spark, n, k):
    df = spark.range(1, n + 1).select(F.col("id").alias("rnk"))
    w = Window.orderBy("rnk")
    both = df.select(
        "rnk",
        F.ntile(k).over(w).cast("long").alias("engine"),
        ntile_from_rank("rnk", n, k).alias("closed"),
    )
    diff = both.filter(F.col("engine") != F.col("closed")).count()
    assert diff == 0, f"n={n} k={k}: closed-form ntile diverged from engine"


def test_ntile_from_rank_rejects_bad_args():
    with pytest.raises(ValueError):
        ntile_from_rank("rnk", -1, 4)
    with pytest.raises(ValueError):
        ntile_from_rank("rnk", 10, 0)


# ---------------------------------------------------------------------------
# global_row_ranks: exact global rank under ties (broken by the unique
# tiebreak column), no single-partition window in its own plan
# ---------------------------------------------------------------------------
def test_global_row_ranks_matches_row_number(spark):
    # duplicate-heavy value column, unique tiebreak; both directions
    rows = [(i % 7, i) for i in range(500)]
    df = spark.createDataFrame(rows, "v int, uid int")
    for asc in (True, False):
        ranked, n = global_row_ranks(spark, df, [("v", asc), ("uid", True)], "rnk")
        assert n == 500
        order = F.col("v").asc() if asc else F.col("v").desc()
        w = Window.orderBy(order, F.col("uid").asc())
        truth = df.select("uid", F.row_number().over(w).cast("long").alias("t"))
        joined = ranked.join(truth, "uid")
        assert joined.filter(F.col("rnk") != F.col("t")).count() == 0
        assert not _window_over_single_partition(ranked)


def test_global_row_ranks_empty_input(spark):
    df = spark.createDataFrame([], "v int, uid int")
    ranked, n = global_row_ranks(spark, df, [("v", True), ("uid", True)])
    assert n == 0
    assert ranked.count() == 0


# ---------------------------------------------------------------------------
# The two rewrites: no SinglePartition window in the executed plan
# (same gate the r9 gini/decile rewrite earned), parity already covered
# by test_oracle_parity.py
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("name", ["customer_rfm_segments", "quality_tiers"])
def test_no_global_order_window_in_rfm_and_tiers(spark, sf_dir, name):
    df = REG[name].fn(spark, sf_dir)
    bad = _window_over_single_partition(df)
    assert not bad, f"{name} still serializes a Window through one partition:\n" + "\n".join(bad)


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    df = REG["vocab_oov_rate"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


# ---------------------------------------------------------------------------
# GLOBAL gate: no registered non-streaming query may run a Window over a
# SinglePartition exchange unless its input row set is BOUNDED by
# construction (enumerated + justified below). New entries to this list
# require the same justification — that's the point of the gate.
# ---------------------------------------------------------------------------
# Every allowlisted window runs over a row set that does NOT grow with
# the fact tables:
#   |days| calendar series (~2.4k rows for 7 years):
#     ewma_dyadic_revenue, rolling_median_revenue_7d,
#     seasonal_decompose_daily_revenue, seasonal_residual_alerts,
#     hll_daily_distinct_rollup
#   |hours| calendar series: events_rate_anomaly_zscore
#   distinct-VALUE domain (quantized cents; docstrings mandate
#     quantizing continuous domains first): ks_two_sample_drift,
#     range_partition_boundaries
#   distinct Morton-key domain (hard cap 2^(2*Z_BITS) = ~1M quantized
#     values regardless of table size): lake_zorder_write,
#     lake_zorder_recluster (r11)
#   fixed grids (priority x status cells, PSI bins, hyperparameter
#     sweep rows, |nations|): chisq_priority_status_cells,
#     psi_drift_events, ml_ridge_normal_eq, allocation_largest_remainder
#   vocabulary (Heaps-law sublinear; needs ALL token ranks for the
#     log-log slope, so top-K truncation cannot apply): zipf_fit
BOUNDED_GLOBAL_WINDOWS = {
    "allocation_largest_remainder",
    "chisq_priority_status_cells",
    "events_rate_anomaly_zscore",
    "ewma_dyadic_revenue",
    "hll_daily_distinct_rollup",
    "ks_two_sample_drift",
    "lake_zorder_recluster",
    "lake_zorder_write",
    "ml_ridge_normal_eq",
    "psi_drift_events",
    "range_partition_boundaries",
    "rolling_median_revenue_7d",
    "seasonal_decompose_daily_revenue",
    "seasonal_residual_alerts",
    "zipf_fit",
}

# Streaming queries are excluded from the sweep, not the rule: their
# fn() runs a full micro-batch lifecycle (minutes each, 44 ops) just to
# return a bounded read of the finished state — the returned plan is a
# state-sized scan, and their data-proportional work happens inside the
# incremental engine, which the per-op streaming tests gate.
_SWEEP = sorted(
    name for name, q in REG.items() if "streaming" not in q.tags
)


def test_global_single_partition_window_gate(spark, sf_dir):
    offenders = {}
    for name in _SWEEP:
        bad = _window_over_single_partition(REG[name].fn(spark, sf_dir))
        if bad:
            offenders[name] = bad[0].splitlines()[0][:120]
    rogue = set(offenders) - BOUNDED_GLOBAL_WINDOWS
    assert not rogue, (
        "data-proportional global-order windows (add to "
        f"BOUNDED_GLOBAL_WINDOWS only with a boundedness justification): "
        f"{ {n: offenders[n] for n in sorted(rogue)} }"
    )
    # and the allowlist may not rot: every entry must still exist
    stale = BOUNDED_GLOBAL_WINDOWS - set(REG)
    assert not stale, f"allowlist names no longer registered: {stale}"


# ---------------------------------------------------------------------------
# r10 ADVICE fixes
# ---------------------------------------------------------------------------
def _write_events(tmp_path_factory, spark, rows):
    """rows: (event_id, ts_str, user_id, event_type, value, props)."""
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path_factory.mktemp("sg_r10adv_"))
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    return d


def test_bitmap_negative_user_id_raises_loudly(spark, tmp_path_factory):
    """ADVICE #1: a negative id would silently COLLIDE bits under Spark
    div/pmod (-1 and 31 both set word 0 bit 31 — an undercount). The
    precondition must raise, not undercount."""
    d = _write_events(
        tmp_path_factory,
        spark,
        [
            (0, "2024-03-01 00:00:00", 5, "click", 1.0, "{}"),
            (1, "2024-03-01 00:00:01", -1, "click", 1.0, "{}"),
        ],
    )
    with pytest.raises(Exception, match="negative user_id"):
        REG["bitmap_distinct_users"].fn(spark, d).collect()


def test_bitmap_nonnegative_ids_still_green(spark, tmp_path_factory):
    d = _write_events(
        tmp_path_factory,
        spark,
        [(i, f"2024-03-01 00:00:{i:02d}", i % 40, "click", 1.0, "{}") for i in range(60)],
    )
    out = {r["day"].isoformat(): r["distinct_users"] for r in REG["bitmap_distinct_users"].fn(spark, d).collect()}
    assert out == {"2024-03-01": 40}


def _write_orders_ship(tmp_path_factory, spark, rows):
    """rows: (orderkey, orderdate, shipdate)."""
    d = str(tmp_path_factory.mktemp("sg_r10bd_"))
    o = spark.createDataFrame(
        [(k, od, 1, 100.0, "O", "1-URGENT") for k, od, _ in rows],
        "o_orderkey long, o_orderdate date, o_custkey long, "
        "o_totalprice double, o_orderstatus string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    li = spark.createDataFrame(
        [(k, sd) for k, _, sd in rows], "l_orderkey long, l_shipdate date"
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    o.write.mode("overwrite").parquet(d + "/orders.parquet")
    li.write.mode("overwrite").parquet(d + "/lineitem.parquet")
    return d


def test_business_days_pre_epoch_date_raises_loudly(spark, tmp_path_factory):
    """ADVICE #2: _bd_f's closed form splits across engines on negative
    day indexes (truncating vs flooring division). A date before the
    1900-01-01 epoch must raise, not silently diverge."""
    import datetime as dt

    d = _write_orders_ship(
        tmp_path_factory,
        spark,
        [(1, dt.date(1899, 12, 25), dt.date(1995, 1, 3))],
    )
    with pytest.raises(Exception, match="precedes BD_EPOCH"):
        REG["business_days_to_ship"].fn(spark, d).collect()


def test_business_days_epoch_change_is_invariant(spark, tmp_path_factory):
    """The 1970-01-05 -> 1900-01-01 epoch move (both Mondays) must not
    change any output: f(hi) - f(lo) depends only on weekday alignment.
    Pin a hand-computed case: Mon 1995-01-02 .. Mon 1995-01-09 spans 6
    business days (Mon-Fri + the next Mon excluded from [lo, hi) ...
    f counts weekdays in [epoch, epoch+d), so f(hi)-f(lo) = weekdays in
    [lo, hi) = Mon,Tue,Wed,Thu,Fri = 5)."""
    import datetime as dt

    d = _write_orders_ship(
        tmp_path_factory,
        spark,
        [(1, dt.date(1995, 1, 2), dt.date(1995, 1, 9))],
    )
    rows = REG["business_days_to_ship"].fn(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["business_days"] == 5
    assert rows[0]["n_lines"] == 1


def test_stream_bitmap_held_dataframe_survives_reinvocation(spark, sf_dir):
    """ADVICE #3: the r9 fixed-per-pid publish dir made invocation N+1
    rmtree the dir invocation N's returned DataFrame lazily reads. With
    versioned dirs, the earlier result must stay collectable."""
    fn = REG["stream_bitmap_distinct_running"].fn
    df1 = fn(spark, sf_dir)
    first = sorted((r["day"], r["distinct_users"]) for r in df1.collect())
    df2 = fn(spark, sf_dir)
    again = sorted((r["day"], r["distinct_users"]) for r in df1.collect())
    assert again == first  # df1 must still be readable after df2's run
    assert sorted((r["day"], r["distinct_users"]) for r in df2.collect()) == first


# ---------------------------------------------------------------------------
# ntile_frontiers + ntile_score_expr: frontier-based tile assignment ==
# engine ntile, on tie-heavy data where tier edges fall INSIDE tie
# blocks (the path that needs the per-block tiebreak probe)
# ---------------------------------------------------------------------------
from distributed_deep_learning_with_apache_spark_spark.operators.ranks import (  # noqa: E402
    ntile_frontiers,
    ntile_score_expr,
)


@pytest.mark.parametrize("asc", [True, False])
@pytest.mark.parametrize(
    "n,k,mod",
    [
        (500, 4, 3),   # huge tie blocks: every edge inside a block
        (500, 4, 499),  # nearly unique values
        (101, 7, 5),
        (7, 4, 1),     # ALL values equal: every edge inside ONE block
        (3, 4, 2),     # n < k
        (1, 4, 1),
    ],
)
def test_ntile_frontiers_match_engine_ntile(spark, asc, n, k, mod):
    rows = [((i * 7) % mod, i) for i in range(n)]
    df = spark.createDataFrame(rows, "v int, uid int")
    nn, fr = ntile_frontiers(spark, df, "v", asc, "uid", k)
    assert nn == n and len(fr) == k - 1
    got = df.withColumn("tile", ntile_score_expr("v", asc, "uid", fr))
    order = F.col("v").asc() if asc else F.col("v").desc()
    w = Window.orderBy(order, F.col("uid").asc())
    truth = df.select(
        "uid", F.ntile(k).over(w).cast("long").alias("t")
    )
    bad = got.join(truth, "uid").filter(F.col("tile") != F.col("t")).count()
    assert bad == 0, f"asc={asc} n={n} k={k} mod={mod}: frontier tiles diverged"


def test_ntile_frontiers_empty_and_bad_k(spark):
    df = spark.createDataFrame([], "v int, uid int")
    nn, fr = ntile_frontiers(spark, df, "v", True, "uid", 4)
    assert nn == 0 and fr == []
    with pytest.raises(ValueError):
        ntile_frontiers(spark, df, "v", True, "uid", 0)


# ---------------------------------------------------------------------------
# r10 proactive sign-sensitivity sweep: the two remaining div-on-cents
# sites raise loudly on negative revenue (Spark `div` truncates, SQL `//`
# floors — negative quotients silently split the engines)
# ---------------------------------------------------------------------------
def _write_tpch_min(tmp_path_factory, spark, order_rows):
    """orders + 1-line lineitem + customer/nation minimal fixture.
    order_rows: (orderkey, custkey, totalprice)."""
    import datetime as dt

    d = str(tmp_path_factory.mktemp("sg_r10neg_"))
    o = spark.createDataFrame(
        [
            (k, c, float(p), dt.datetime(1995, 1, 2), "O", "1-URGENT")
            for k, c, p in order_rows
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp, o_orderstatus string, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(k, dt.datetime(1995, 1, 5)) for k, _, _ in order_rows],
        "l_orderkey long, l_shipdate timestamp",
    )
    cust = spark.createDataFrame(
        [(c, int(c % 2)) for _, c, _ in order_rows],
        "c_custkey long, c_nationkey int",
    ).dropDuplicates()
    nat = spark.createDataFrame(
        [(0, "KENYA"), (1, "PERU")], "n_nationkey int, n_name string"
    )
    o.write.mode("overwrite").parquet(d + "/orders.parquet")
    li.write.mode("overwrite").parquet(d + "/lineitem.parquet")
    cust.write.mode("overwrite").parquet(d + "/customer.parquet")
    nat.write.mode("overwrite").parquet(d + "/nation.parquet")
    return d


def test_allocation_negative_revenue_raises_loudly(spark, tmp_path_factory):
    d = _write_tpch_min(tmp_path_factory, spark, [(1, 1, 100.0), (2, 2, -50.0)])
    with pytest.raises(ValueError, match="non-negative"):
        REG["allocation_largest_remainder"].fn(spark, d)


def test_allocation_all_zero_weights_raises_loudly(spark, tmp_path_factory):
    d = _write_tpch_min(tmp_path_factory, spark, [(1, 1, 0.0), (2, 2, 0.0)])
    with pytest.raises(ValueError, match="all weights are zero"):
        REG["allocation_largest_remainder"].fn(spark, d)


def test_interval_proration_negative_revenue_raises_loudly(spark, tmp_path_factory):
    d = _write_tpch_min(tmp_path_factory, spark, [(1, 1, -100.0)])
    with pytest.raises(Exception, match="non-negative cents"):
        REG["interval_month_overlap_revenue"].fn(spark, d).collect()
