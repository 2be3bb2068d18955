"""The dedup family (operators/dedup.py) in the default tier.

DuckDB parity for every oracle-bearing dedup query at the test SF — the
full-registry parity module is a slow tier, and these queries share one
shingle → band → probe path, so a slip in a shared helper moves many of
them at once — plus the cluster ops' storage discipline.
"""

import pytest

from distributed_deep_learning_with_apache_spark_spark.registry import load_all
from tests.oracle import compare, duck_connect

REG = load_all()
DEDUP_ORACLE_QUERIES = sorted(
    name
    for name, q in REG.items()
    if q.oracle is not None and q.fn.__module__.endswith(".operators.dedup")
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


def test_family_selection_is_not_empty():
    assert {"near_dup_minhash_verified", "near_dup_incremental", "dedup_clusters"} <= set(
        DEDUP_ORACLE_QUERIES
    )


@pytest.mark.parametrize("name", DEDUP_ORACLE_QUERIES)
def test_dedup_oracle_match(spark, sf_dir, duck, name):
    q = REG[name]
    ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
    assert ok, f"{name}: {msg}"


def test_cluster_ops_leave_no_cached_frame(spark, sf_dir):
    """Label propagation materializes its rounds by localCheckpoint, which
    is freed once unreferenced; a persist() pins an InMemoryRelation in
    the CacheManager for the life of the session, one per call."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    for name in ("dedup_clusters", "leakage_safe_splits"):
        REG[name].fn(spark, sf_dir).collect()
    assert cache.cachedData().size() == before
