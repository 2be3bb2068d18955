"""The order-statistics family in the default tier.

Every op here runs on one of two shared paths: the distributed prefix sum
of operators/ranks.py (row ids, gini, decile lift, ABC/Pareto, and the
ntile frontiers of the RFM and quality-tier ops) or the histogram
narrowing loop of operators/setops.py (the three exact-quantile ops). A
slip in either moves several ops at once, so their DuckDB parity runs at
the test SF here, beside the prefix sum's unit contract and a job-count
gate on a warm call of each op.
"""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from distributed_deep_learning_with_apache_spark_spark.operators.ranks import prefix_sum
from distributed_deep_learning_with_apache_spark_spark.registry import load_all
from tests.oracle import compare, duck_connect

REG = load_all()

# Jobs of a warm call (build + collect, every thread's jobs) at sf0.001:
# (pinned, before the shared prefix sum and narrowing loop). The RFM,
# quality-tier and two quantile pins fell again (39/15/6/5) once the
# ntile probes rode the plan as literal rows and the results became
# local frames.
WARM_JOBS = {
    "row_ids_distributed": (7, 8),
    "gini_revenue_concentration": (10, 11),
    "decile_lift_table": (11, 12),
    "abc_pareto_classification": (13, 14),
    "customer_rfm_segments": (34, 42),
    "quality_tiers": (13, 16),
    "quantile_two_pass_exact": (5, 6),
    "grouped_quantile_exact": (4, 5),
    "mad_price_outliers": (14, 14),
}
RANK_ORACLE_QUERIES = sorted(WARM_JOBS)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


def test_family_selection_is_not_empty():
    assert RANK_ORACLE_QUERIES
    assert all(REG[name].oracle is not None for name in RANK_ORACLE_QUERIES)


@pytest.mark.parametrize("name", RANK_ORACLE_QUERIES)
def test_rank_oracle_match(spark, sf_dir, duck, name):
    q = REG[name]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", RANK_ORACLE_QUERIES)
def test_warm_call_job_count(spark, sf_dir, name):
    """Noise-free gate: a warm call runs the pinned number of Spark jobs.
    Counted as a job-id window, so jobs submitted from the op's own
    threads (the RFM axes run concurrently) count too; a job group would
    miss them."""
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("job counts are pinned at sf0.001")
    pinned, before = WARM_JOBS[name]
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    REG[name].fn(spark, sf_dir).collect()
    first = sched.numTotalJobs()
    REG[name].fn(spark, sf_dir).collect()
    jobs = sched.numTotalJobs() - first
    assert jobs == pinned <= before, (name, jobs)


def _truth(df, order_spec, weight):
    w = Window.orderBy(*[F.col(c).asc() if a else F.col(c).desc() for c, a in order_spec])
    return df.select("uid", F.sum(weight).over(w).cast("long").alias("t"))


@pytest.mark.parametrize("asc", [True, False], ids=["asc", "desc"])
@pytest.mark.parametrize("tiebreak", [True, False], ids=["tiebreak", "peers"])
def test_prefix_sum_matches_window_sum(spark, asc, tiebreak):
    """``out`` equals ``sum(w) OVER (ORDER BY ...)``: duplicate-heavy
    values, a signed non-unit weight, ties either broken by a unique
    tiebreak column or left as peers that share one sum."""
    rows = [(i % 7, i, (i * 37) % 11 - 3) for i in range(500)]
    df = spark.createDataFrame(rows, "v int, uid int, w long")
    spec = [("v", asc)] + ([("uid", True)] if tiebreak else [])
    extra = (F.sum(F.col("w") * 2), F.count(F.lit(1)))
    summed, totals = prefix_sum(df, spec, "w", "cum", extra=extra)
    assert totals == (sum(r[2] for r in rows), 2 * sum(r[2] for r in rows), 500)
    assert summed.columns == ["v", "uid", "w", "cum"]
    joined = summed.join(_truth(df, spec, "w"), "uid")
    assert joined.count() == 500
    assert joined.filter(F.col("cum") != F.col("t")).count() == 0
    summed.collect()
    assert "SinglePartition" not in summed._jdf.queryExecution().executedPlan().toString()


def test_prefix_sum_empty_input(spark):
    df = spark.createDataFrame([], "v int, uid int, w long")
    summed, totals = prefix_sum(df, [("v", False), ("uid", True)], "w", "cum", extra=(F.sum("w"),))
    assert totals == (0, 0)
    assert summed.count() == 0
