"""Structural contracts for round-6 operators (oracle parity lives in
test_oracle_parity.py + the frozen R6_ORACLE driver-sf list)."""

import os

import pytest
from pyspark.sql import functions as F

from distributed_deep_learning_with_apache_spark_spark.operators import curation, dedup
from distributed_deep_learning_with_apache_spark_spark.registry import load_all
from distributed_deep_learning_with_apache_spark_spark.sources.catalog import load_table

REG = load_all()


# ---------------------------------------------------------------------------
# near_dup_incremental: persisted band index mechanics
# ---------------------------------------------------------------------------
def test_incremental_split_matches_exact_dedup_split():
    """The near-dup incremental split must equal dedup_incremental's split
    (the constant lives in dedup.py because curation imports dedup)."""
    assert dedup.INC_HIST_MOD == curation.HIST_MOD
    assert dedup.INC_HIST_KEEP == 8


def test_band_index_build_is_idempotent(spark, sf_dir):
    """Second build must hit the _INDEX_COMPLETE marker: same root, no
    re-write (store mtimes untouched) — the train-once contract."""
    root = dedup.build_band_index(spark, sf_dir)
    marker = os.path.join(root, "_INDEX_COMPLETE")
    assert os.path.exists(marker)
    mtimes = {
        p: os.stat(os.path.join(root, p)).st_mtime_ns
        for p in ("bands", "shingles", "_INDEX_COMPLETE")
    }
    root2 = dedup.build_band_index(spark, sf_dir)
    assert root2 == root
    for p, m in mtimes.items():
        assert os.stat(os.path.join(root, p)).st_mtime_ns == m


def test_band_index_holds_history_only(spark, sf_dir):
    """The store must contain ONLY history docs (doc_id % MOD < KEEP) —
    a batch doc leaking in would make it dedup against itself."""
    root = dedup.build_band_index(spark, sf_dir)
    for sub in ("bands", "shingles"):
        df = spark.read.parquet(os.path.join(root, sub))
        leaked = df.filter(
            F.col("doc_id") % dedup.INC_HIST_MOD >= dedup.INC_HIST_KEEP
        ).count()
        assert leaked == 0, f"{sub} holds {leaked} batch docs"


def test_incremental_never_emits_verified_history_dups(spark, sf_dir):
    """Cross-check against the full-corpus pipeline: any batch doc that
    near_dup_minhash_verified pairs (jaccard >= 0.5) with a HISTORY doc
    must be absent from near_dup_incremental's fresh set."""
    fresh = {
        r["doc_id"] for r in REG["near_dup_incremental"].fn(spark, sf_dir).collect()
    }
    pairs = REG["near_dup_minhash_verified"].fn(spark, sf_dir).collect()
    mod, keep = dedup.INC_HIST_MOD, dedup.INC_HIST_KEEP

    def is_batch(i):
        return i % mod >= keep

    batch_dups = set()
    for r in pairs:
        a, b = r["doc_a"], r["doc_b"]
        if is_batch(a) != is_batch(b):  # cross split: one side is history
            batch_dups.add(a if is_batch(a) else b)
    assert fresh.isdisjoint(batch_dups), sorted(fresh & batch_dups)[:5]
    # and the split universe is respected
    assert all(is_batch(i) for i in fresh)


def test_incremental_fresh_includes_zero_candidate_docs(spark, sf_dir):
    """Batch docs with no band collisions at all (n_band_candidates = 0)
    are still emitted — absence from the probe join must not drop them."""
    rows = REG["near_dup_incremental"].fn(spark, sf_dir).collect()
    assert any(r["n_band_candidates"] == 0 for r in rows)
    n_batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % dedup.INC_HIST_MOD >= dedup.INC_HIST_KEEP)
        .count()
    )
    assert 0 < len(rows) <= n_batch


# ---------------------------------------------------------------------------
# pagerank fixed-point: oracle-side structure
# ---------------------------------------------------------------------------
def test_pagerank_oracle_materializes_every_round():
    """Every per-round CTE must be MATERIALIZED: DuckDB inlines plain CTEs,
    and r{k} references r{k-1} three times, so un-materialized unrolling
    explodes 3^10 (found as 'Too many open files' + exponential runtime)."""
    from distributed_deep_learning_with_apache_spark_spark.operators.graph import (
        PR_ITERS,
        _pagerank_oracle,
    )

    sql = _pagerank_oracle()
    for k in range(1, PR_ITERS + 1):
        for cte in (f"c{k}", f"d{k}", f"r{k}"):
            assert f"{cte} AS MATERIALIZED" in sql, f"{cte} not materialized"


# ---------------------------------------------------------------------------
# session_window boundary semantics (what the oracle's split condition pins)
# ---------------------------------------------------------------------------
def test_session_window_merges_at_exact_gap(spark):
    """An event at EXACTLY prev_ts + gap merges; one past it splits. The
    oracle's `gap > timeout` split condition encodes this — if Spark ever
    flips to [start, end) exclusion, this test and the hash check both go
    red."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base),
        (1, base + datetime.timedelta(minutes=30)),  # exactly the gap
        (2, base),
        (2, base + datetime.timedelta(minutes=30, microseconds=1)),  # past it
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .collect()
    )
    got = {r["user_id"]: r["n_sessions"] for r in out}
    assert got == {1: 1, 2: 2}


# ---------------------------------------------------------------------------
# skyline: no SinglePartition pass + frontier property
# ---------------------------------------------------------------------------
def test_skyline_no_single_partition_and_is_frontier(spark, sf_dir):
    df = REG["skyline_pareto_parts"].fn(spark, sf_dir)
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert rows
    # no skyline member dominates another (mutual non-domination)
    pts = [(r["p_retailprice"], r["p_size"]) for r in rows]
    for i, (pa, sa) in enumerate(pts):
        for pb, sb in pts[i + 1 :]:
            assert not (pb <= pa and sb >= sa and (pb < pa or sb > sa))
            assert not (pa <= pb and sa >= sb and (pa < pb or sa > sb))


# ---------------------------------------------------------------------------
# MAD: threshold actually separates (robustness sanity)
# ---------------------------------------------------------------------------
def test_mad_outliers_bounded_by_group_size(spark, sf_dir):
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import (
        load_table as lt,
    )

    rows = REG["mad_price_outliers"].fn(spark, sf_dir).collect()
    sizes = {
        r["l_returnflag"]: r["n"]
        for r in lt(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r["l_returnflag"] for r in rows} == set(sizes)
    for r in rows:
        assert 0 <= r["n_outliers"] < sizes[r["l_returnflag"]] / 2  # robust: <50%
        assert r["mad"] >= 0.0


# ---------------------------------------------------------------------------
# BFS: triangle inequality on hops + source at distance 0
# ---------------------------------------------------------------------------
def test_bfs_distances_structurally_sound(spark, sf_dir):
    from distributed_deep_learning_with_apache_spark_spark.operators.graph import (
        BFS_MAX_HOPS,
    )

    rows = REG["shortest_paths_bfs"].fn(spark, sf_dir).collect()
    dist = {r["part"]: r["dist"] for r in rows}
    assert rows
    assert min(dist.values()) == 0 and list(dist.values()).count(0) == 1
    assert max(dist.values()) <= BFS_MAX_HOPS
    # hop levels are contiguous: a node at dist d implies some node at d-1
    levels = sorted(set(dist.values()))
    assert levels == list(range(levels[-1] + 1))


# ---------------------------------------------------------------------------
# Benford: spine completeness + integer accounting
# ---------------------------------------------------------------------------
def test_benford_accounting(spark, sf_dir):
    rows = REG["benford_first_digit"].fn(spark, sf_dir).collect()
    assert sorted(r["digit"] for r in rows) == list(range(1, 10))
    total = sum(r["n_obs"] for r in rows)
    assert total > 0
    assert sum(r["pct_e4"] for r in rows) <= 10000  # floor-division shares
    for r in rows:
        assert r["dev_e4"] == abs(r["pct_e4"] - r["benford_e4"])


# ---------------------------------------------------------------------------
# Filtered ANN: predicate reaches the scan; every neighbor passes the filter
# ---------------------------------------------------------------------------
def test_filtered_ann_pushes_predicate_and_respects_filter(spark, sf_dir):
    from distributed_deep_learning_with_apache_spark_spark.operators.similarity import (
        FILTER_LABEL_MOD,
        TOP_K,
    )

    df = REG["cosine_topk_filtered"].fn(spark, sf_dir)
    rows = df.collect()
    assert rows
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    per_q = {}
    for r in rows:
        assert labels[r["neighbor_id"]] % FILTER_LABEL_MOD == 1
        per_q.setdefault(r["query_id"], []).append(r["rnk"])
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, TOP_K + 1))
    # the label predicate must reach the parquet scan (pre-filtering, not
    # post-filtering an unfiltered index)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # post-filter comparison: results differ from the unfiltered top-k
    unfiltered = {
        (r["query_id"], r["neighbor_id"])
        for r in REG["cosine_topk_exact"].fn(spark, sf_dir).collect()
    }
    filtered = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert filtered != unfiltered


# ---------------------------------------------------------------------------
# WAP: failed audit leaves no readable trace
# ---------------------------------------------------------------------------
def test_wap_failed_audit_invisible(spark, sf_dir):
    """Drive one WAP cycle by hand: after the corrupted batch's audit
    fails, the manifest must still be v1, the staged files swept, and a
    reader at v1 must see exactly the base rows."""
    import tempfile
    import shutil
    import glob as g

    from distributed_deep_learning_with_apache_spark_spark.sources.lake import (
        WAP_SPLIT_LINE,
        _snap_commit,
        _snap_write_data,
        read_snapshot,
        wap_stage_audit_publish,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    root = tempfile.mkdtemp(prefix="sg_wap_test_")
    try:
        base = li.filter(F.col("l_linenumber") <= WAP_SPLIT_LINE)
        n_base = base.count()
        batch = li.filter(F.col("l_linenumber") > WAP_SPLIT_LINE)
        _snap_commit(root, 1, _snap_write_data(base, root, "base"), "base")
        bad = batch.withColumn("l_quantity", -F.abs("l_quantity") - 1)
        ok, v = wap_stage_audit_publish(spark, root, 1, bad, "bad")
        assert not ok and v == 1
        assert not os.path.exists(os.path.join(root, "snap_v2.json"))
        assert g.glob(os.path.join(root, "data", "bad", "*.parquet")) == []
        assert read_snapshot(spark, root, 1).count() == n_base
        # clean publish then reaches v2 with base + batch
        ok, v = wap_stage_audit_publish(spark, root, 1, batch, "good")
        assert ok and v == 2
        assert read_snapshot(spark, root, 2).count() == li.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# GBT: trees beat linear on the interaction target
# ---------------------------------------------------------------------------
def test_gbt_r2_pinned(spark, sf_dir):
    row = REG["ml_gbt_regression"].fn(spark, sf_dir).collect()[0]
    assert row["r2"] >= 0.9, row
    assert row["n_trees"] == 20
    assert row["n_train"] + row["n_test"] == 4000


# ---------------------------------------------------------------------------
# RESTORE: zero data movement, mistake versions stay readable
# ---------------------------------------------------------------------------
def test_restore_is_metadata_only(spark, sf_dir):
    """The restore commit must reference v2's EXACT file list (no new data
    files written) and leave v3/v4 manifests readable."""
    import json
    import glob as g

    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import fork
    from distributed_deep_learning_with_apache_spark_spark.sources.lake import (
        RESTORE_TO,
        _snap_commit,
        ensure_snapshot_table,
        read_snapshot,
    )

    root = ensure_snapshot_table(spark, sf_dir)
    with fork(root) as work:
        files_before = set(g.glob(os.path.join(work, "data", "*", "*.parquet")))
        with open(os.path.join(work, f"snap_v{RESTORE_TO}.json")) as f:
            target = json.load(f)
        _snap_commit(work, 5, target["files"], "restore")
        files_after = set(g.glob(os.path.join(work, "data", "*", "*.parquet")))
        assert files_before == files_after  # zero data movement
        with open(os.path.join(work, "snap_v5.json")) as f:
            v5 = json.load(f)
        assert v5["files"] == target["files"]
        # every version 1..5 still readable (history intact)
        for v in range(1, 6):
            assert read_snapshot(spark, work, v).count() >= 0
        # v5 content == v2 content exactly
        a = read_snapshot(spark, work, 5).orderBy("o_orderkey").collect()
        b = read_snapshot(spark, work, RESTORE_TO).orderBy("o_orderkey").collect()
        assert a == b


# ---------------------------------------------------------------------------
# CrossValidator: least regularization wins on a true linear target
# ---------------------------------------------------------------------------
def test_crossval_selects_least_regularization(spark, sf_dir):
    rows = {r["reg_param"]: r for r in REG["ml_crossval_ridge"].fn(spark, sf_dir).collect()}
    assert set(rows) == {0.01, 1.0, 100.0}
    assert rows[0.01]["is_best"] and not rows[1.0]["is_best"]
    # metric must be monotone in over-regularization on this target
    assert rows[0.01]["avg_rmse"] < rows[1.0]["avg_rmse"] < rows[100.0]["avg_rmse"]


# ---------------------------------------------------------------------------
# Local-hour histogram: conservation + hour domain
# ---------------------------------------------------------------------------
def test_local_hour_histogram_conserves_events(spark, sf_dir):
    rows = REG["events_local_hour_histogram"].fn(spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == n_total
    assert all(0 <= r["local_hour"] <= 23 for r in rows)


# ---------------------------------------------------------------------------
# Streaming attribution: stateful twin equals the batch window formulation
# ---------------------------------------------------------------------------
def test_stream_attribution_equals_batch_twin(spark, sf_dir):
    from pyspark.sql import Window

    from distributed_deep_learning_with_apache_spark_spark.streaming.events import (
        ATTR_WINDOW_S,
    )

    out = REG["stream_attribution_last_touch"].fn(spark, sf_dir)
    # counts are monotone over update-mode emissions: final truth = max
    got = {
        r["user_id"]: (r["n_attributed"], r["n_organic"])
        for r in out.groupBy("user_id")
        .agg(F.max("n_attributed").alias("a"), F.max("n_organic").alias("o"))
        .select("user_id", F.col("a").alias("n_attributed"), F.col("o").alias("n_organic"))
        .collect()
    }
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    attributed = F.col("last_click_ts").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("last_click_ts") <= ATTR_WINDOW_S * 1_000_000
    )
    want = {
        r["user_id"]: (r["a"], r["o"])
        for r in e.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(attributed, 1).otherwise(0)).alias("a"),
            F.sum(F.when(attributed, 0).otherwise(1)).alias("o"),
        )
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Rate-limited backfill: one micro-batch per file, totals conserved
# ---------------------------------------------------------------------------
def test_backfill_one_batch_per_file(spark, sf_dir):
    row = REG["stream_rate_limited_backfill"].fn(spark, sf_dir).collect()[0]
    assert row["n_batches"] == row["n_files"]
    n_total = load_table(spark, sf_dir, "events").count()
    assert row["total_rows"] == n_total
    # admission control: no batch swallowed the backlog
    assert row["max_batch_rows"] < n_total


# ---------------------------------------------------------------------------
# Shallow clone: the original table is untouched by the clone's commit
# ---------------------------------------------------------------------------
def test_shallow_clone_leaves_original_untouched(spark, sf_dir):
    import glob as g

    from distributed_deep_learning_with_apache_spark_spark.sources.lake import (
        ensure_snapshot_table,
    )

    root = ensure_snapshot_table(spark, sf_dir)
    before_manifests = sorted(g.glob(os.path.join(root, "snap_v*.json")))
    before_files = {
        p: os.stat(p).st_mtime_ns
        for p in g.glob(os.path.join(root, "data", "*", "*.parquet"))
    }
    REG["lake_shallow_clone_divergence"].fn(spark, sf_dir).collect()
    after_manifests = sorted(g.glob(os.path.join(root, "snap_v*.json")))
    assert after_manifests == before_manifests  # no v5 on the original
    assert not os.path.exists(os.path.join(root, "snap_v5.json"))
    for p, m in before_files.items():
        assert os.stat(p).st_mtime_ns == m  # data files byte-untouched


# ---------------------------------------------------------------------------
# Chi-square cells: summed terms match MLlib's ChiSquareTest statistic
# ---------------------------------------------------------------------------
def test_chisq_cells_match_mllib_statistic(spark, sf_dir):
    rows = REG["chisq_priority_status_cells"].fn(spark, sf_dir).collect()
    ours = sum(r["chi_term"] for r in rows)
    # per-cell expected values are positive and obs totals conserve
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n_obs"] for r in rows) == n_orders
    assert all(r["expected"] > 0 for r in rows)

    from pyspark.ml.feature import StringIndexer
    from pyspark.ml.linalg import VectorUDT, Vectors
    from pyspark.ml.stat import ChiSquareTest
    from pyspark.sql import types as T

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    )
    idx = StringIndexer(
        inputCols=["o_orderpriority", "o_orderstatus"], outputCols=["pi", "si"]
    ).fit(o)
    df = idx.transform(o)
    to_vec = F.udf(lambda x: Vectors.dense([x]), VectorUDT())
    df = df.select(to_vec("pi").alias("features"), F.col("si").alias("label"))
    stat = ChiSquareTest.test(df, "features", "label").collect()[0]
    mllib_stat = float(stat["statistics"][0])
    # per-cell rounding is 1e-4 over <=15 cells
    assert abs(ours - mllib_stat) < 0.01, (ours, mllib_stat)


# ---------------------------------------------------------------------------
# IVF silhouette gate: k-means strictly above the random baseline
# ---------------------------------------------------------------------------
def test_ivf_silhouette_above_random(spark, sf_dir):
    row = REG["ivf_silhouette_gate"].fn(spark, sf_dir).collect()[0]
    assert row["silhouette_kmeans"] > row["silhouette_random"]
    # uniform fixture: both near zero (no true cluster structure), sane range
    assert -0.2 < row["silhouette_random"] < 0.2
    assert -0.2 < row["silhouette_kmeans"] < 0.5
    assert row["n_vectors"] > 0 and row["k"] == 16
