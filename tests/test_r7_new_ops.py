"""Structural contracts for round-7 operators (oracle parity lives in
test_oracle_parity.py + the frozen R7_ORACLE driver-sf list):

- portable sampling: determinism under repartitioning (the property that
  made the upgrade from rand(seed) worthwhile), selectivity, fixed size;
- quantile sketch rollup: MERGEABILITY (merge of month sketches == sketch
  of the union) and rank-error of the estimates vs exact quantiles;
- KMV: sub-sketch exactness when unfilled, estimate accuracy when filled;
- exactly-once merge: the injected crash/replay path really runs.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from distributed_deep_learning_with_apache_spark_spark.operators import incremental, setops
from distributed_deep_learning_with_apache_spark_spark.registry import load_all
from distributed_deep_learning_with_apache_spark_spark.sources.catalog import load_table

REG = load_all()


# ---------------------------------------------------------------------------
# Portable sampling
# ---------------------------------------------------------------------------
def test_sample_seeded_stable_under_repartition(spark, sf_dir):
    """The property rand(seed) lacks (SURVEY §7.4.2): membership is a pure
    function of the row, so any physical layout yields the same sample."""
    base = {r["o_orderkey"] for r in REG["sample_seeded"].fn(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders").repartition(13, "o_custkey")
    relaid = o.filter(
        setops._lehmer(F.col("o_orderkey"), setops.SAMPLE_A, setops.SAMPLE_C)
        < setops.SAMPLE_FRACTION_NUM
    )
    assert {r["o_orderkey"] for r in relaid.collect()} == base


def test_sample_seeded_selectivity(spark, sf_dir):
    """Bernoulli(0.1) over a bijective hash: observed fraction within a
    generous binomial band (n >= 1500 at the smallest SF)."""
    n_total = load_table(spark, sf_dir, "orders").count()
    n_sample = REG["sample_seeded"].fn(spark, sf_dir).count()
    frac = n_sample / n_total
    assert 0.06 <= frac <= 0.14, f"selectivity {frac} drifted from 0.1"


def test_takesample_exact_k_and_deterministic(spark, sf_dir):
    df1 = REG["sample_takesample_k"].fn(spark, sf_dir)
    n_total = load_table(spark, sf_dir, "orders").count()
    rows1 = sorted(r["o_orderkey"] for r in df1.collect())
    assert len(rows1) == min(setops.TAKESAMPLE_K, n_total)
    rows2 = sorted(
        r["o_orderkey"] for r in REG["sample_takesample_k"].fn(spark, sf_dir).collect()
    )
    assert rows1 == rows2  # run-to-run identical (takeSample(seed) is not)


def test_takesample_is_not_degenerate_prefix(spark, sf_dir):
    """The r7 build found this live: a too-small multiplier leaves small
    keys unwrapped, making bottom-k-by-hash just 'the k smallest keys'.
    Guard: the sample must not be the sorted key prefix."""
    keys = sorted(
        r["o_orderkey"] for r in REG["sample_takesample_k"].fn(spark, sf_dir).collect()
    )
    all_keys = sorted(
        r["o_orderkey"]
        for r in load_table(spark, sf_dir, "orders").select("o_orderkey").collect()
    )
    assert keys != all_keys[: len(keys)], "sample degenerated to smallest keys"


# ---------------------------------------------------------------------------
# Mergeable quantile sketch
# ---------------------------------------------------------------------------
def _bottom_k(df, k):
    w = Window.orderBy("hkey")
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def test_quantile_sketch_mergeability(spark, sf_dir):
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B): union the two halves'
    bottom-k sets and re-truncate; must equal bottom-k over all rows.
    This is the property that lets each month be summarized once and every
    rollup run over stored sketches."""
    o = load_table(spark, sf_dir, "orders").select(
        F.pmod(
            F.pmod(F.col("o_orderkey"), incremental.QSK_P) * incremental.QSK_A
            + incremental.QSK_C,
            incremental.QSK_P,
        ).alias("hkey")
    )
    k = incremental.QSK_K
    half_a = o.filter(F.col("hkey") % 2 == 0)
    half_b = o.filter(F.col("hkey") % 2 == 1)
    merged = _bottom_k(_bottom_k(half_a, k).unionByName(_bottom_k(half_b, k)), k)
    direct = _bottom_k(o, k)
    assert sorted(r["hkey"] for r in merged.collect()) == sorted(
        r["hkey"] for r in direct.collect()
    )


def test_quantile_sketch_rank_error(spark, sf_dir):
    """The final month's running p50 estimate must sit at a true prefix
    rank within 0.5 ± 3/sqrt(K) (~0.375 at K=64) — the sample-quantile
    concentration bound with a wide safety factor."""
    out = REG["quantile_sketch_rollup_monthly"].fn(spark, sf_dir)
    last = out.orderBy(F.col("month").desc()).first()
    cents = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents")
    )
    n = cents.count()
    below = cents.filter(F.col("cents") <= last["est_p50_cents"]).count()
    rank = below / n
    tol = 3 / (incremental.QSK_K ** 0.5)
    assert abs(rank - 0.5) <= tol, f"p50 est at true rank {rank}"


def test_quantile_sketch_exact_when_unfilled(spark, sf_dir):
    """A month with fewer than K orders keeps every row, so the 'estimate'
    must equal the exact type-1 quantile of that month's prefix."""
    out = REG["quantile_sketch_rollup_monthly"].fn(spark, sf_dir)
    first = out.orderBy("month").first()
    if first["n_sample"] >= incremental.QSK_K:
        pytest.skip("smallest prefix already fills the sketch at this SF")
    o = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    prefix = sorted(
        r["cents"] for r in o.filter(F.col("month") <= first["month"]).collect()
    )
    import math

    exact_p50 = prefix[math.ceil(len(prefix) * 0.5) - 1]
    assert first["est_p50_cents"] == exact_p50


# ---------------------------------------------------------------------------
# KMV sketch
# ---------------------------------------------------------------------------
def test_kmv_exact_when_unfilled(spark, sf_dir):
    """k_eff < K means the sketch holds the whole set: estimates must be
    the exact distinct / intersection counts, not the density formula."""
    out = {r["event_type"]: r for r in REG["kmv_user_overlap_sketch"].fn(spark, sf_dir).collect()}
    if not out:
        pytest.skip("no view/purchase events at this SF")
    e = load_table(spark, sf_dir, "events")
    for etype, row in out.items():
        exact = (
            e.filter(F.col("event_type") == etype).select("user_id").distinct().count()
        )
        if row["k_eff"] < incremental.KMV_K:
            assert row["est_distinct"] == exact
        else:
            assert abs(row["est_distinct"] - exact) / exact <= 0.35


def test_kmv_intersection_accuracy(spark, sf_dir):
    out = REG["kmv_user_overlap_sketch"].fn(spark, sf_dir).first()
    if out is None:
        pytest.skip("no view/purchase events at this SF")
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select("user_id").distinct()
    b = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = v.join(b, "user_id", "left_semi").count()
    est = out["est_intersection"]
    if exact == 0:
        assert est == 0
    else:
        assert abs(est - exact) / exact <= 0.5  # compound ratio*union error


# ---------------------------------------------------------------------------
# Exactly-once merge under restart
# ---------------------------------------------------------------------------
def test_exactly_once_merge_matches_batch_truth(spark, sf_dir):
    """End state == one-shot batch aggregate, computed Spark-side (the
    DuckDB hash parity runs separately). The operator itself raises if the
    restart never redelivered the crashed batch, so a pass here proves the
    crash+replay+skip path executed AND double-application did not occur."""
    got = {
        r["user_id"]: (r["n_events"], r["total_value_cents"])
        for r in REG["stream_exactly_once_merge_restart"].fn(spark, sf_dir).collect()
    }
    truth = {
        r["user_id"]: (r["n"], r["c"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("long").alias("c"),
        )
        .collect()
    }
    assert got == truth


# ---------------------------------------------------------------------------
# Seasonal decomposition
# ---------------------------------------------------------------------------
def test_seasonal_reconstruction_identity(spark, sf_dir):
    """trend + seasonal + residual must reconstruct the observed daily
    revenue within the 3 half-up roundings (±0.005 each, in cents-scale
    hundredths)."""
    out = REG["seasonal_decompose_daily_revenue"].fn(spark, sf_dir)
    bad = out.filter(
        F.abs(
            F.col("cents")
            - (F.col("trend_cents") + F.col("seasonal_cents") + F.col("residual_cents"))
        )
        > 0.02
    ).count()
    assert bad == 0


def test_seasonal_emits_full_windows_only(spark, sf_dir):
    """Edge days (no full centered 7-day window) are dropped, not emitted
    with a shrunken window: output days == interior of the daily series."""
    out_days = REG["seasonal_decompose_daily_revenue"].fn(spark, sf_dir)
    n_days = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date"))
        .distinct()
        .count()
    )
    # the daily series may have calendar gaps; ROWS window drops exactly
    # the first and last 3 SERIES rows
    assert out_days.count() == max(0, n_days - 6)


# ---------------------------------------------------------------------------
# Streaming KMV
# ---------------------------------------------------------------------------
def test_stream_kmv_equals_batch_sketch(spark, sf_dir):
    """Mergeability proof at the operator level: the streaming state
    (merged across micro-batches) must produce the same estimate as the
    one-shot batch bottom-k — computed here Spark-side."""
    got = REG["stream_kmv_distinct_running"].fn(spark, sf_dir).first()
    e = load_table(spark, sf_dir, "events").select("user_id").distinct()
    hashed = e.withColumn(
        "hkey",
        F.pmod(
            F.pmod(F.col("user_id"), incremental.QSK_P) * incremental.KMV_A
            + incremental.KMV_C,
            incremental.QSK_P,
        ),
    )
    kept = hashed.orderBy("hkey").limit(incremental.KMV_K).collect()
    k_eff = len(kept)
    if k_eff < incremental.KMV_K:
        expect = k_eff
    else:
        kth = max(r["hkey"] for r in kept)
        import math

        expect = int(math.floor((k_eff - 1) * float(incremental.QSK_P) / kth + 0.5))
    assert (got["k_eff"], got["est_distinct"]) == (k_eff, expect)


# ---------------------------------------------------------------------------
# Bigram perplexity
# ---------------------------------------------------------------------------
def test_perplexity_flags_out_of_distribution_doc(spark, tmp_path):
    """A doc of corpus-unseen token sequences must score far below the
    in-distribution docs and trip the flag; repetitive in-distribution
    docs must not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    normal = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(i, normal, "en", "web", len(normal)) for i in range(30)]
    garbage = "zq xv qj vx jz qx zj xq vq jx zv qz"
    docs.append((30, garbage, "en", "web", len(garbage)))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs]),
                "lang": pa.array([d[2] for d in docs]),
                "source": pa.array([d[3] for d in docs]),
                "n_chars": pa.array([d[4] for d in docs], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = {
        r["doc_id"]: r
        for r in REG["bigram_perplexity_score"].fn(spark, str(tmp_path)).collect()
    }
    assert out[30]["is_high_perplexity"] is True
    assert all(not out[i]["is_high_perplexity"] for i in range(30))
    avg = lambda r: r["logprob_milli_sum"] / r["n_bigrams"]  # noqa: E731
    assert avg(out[30]) < avg(out[0]) - 1_000  # ≥1 nat/bigram worse (milli-nats)


# ---------------------------------------------------------------------------
# PrefixSpan
# ---------------------------------------------------------------------------
def test_prefixspan_order_sensitivity(spark, sf_dir, tmp_path):
    """The reason this op exists: <a,b> and <b,a> are DIFFERENT patterns
    with independent supports. Verify both directions are counted
    correctly on a hand-built corpus where only one direction occurs."""
    import pyarrow  # noqa: F401 — ensure arrow path available

    rows = []
    for u in range(12):
        rows.append((2 * u, u, "signup"))
        rows.append((2 * u + 1, u, "purchase"))  # always signup THEN purchase
    df = spark.createDataFrame(
        [(eid, f"2024-03-01 00:00:{eid:02d}", uid, t, 1.0, "{}") for eid, uid, t in rows],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    out = {
        (r["pat_a"], r["pat_b"]): r["n_users"]
        for r in REG["ml_prefixspan_event_paths"].fn(spark, d).collect()
    }
    assert out[("signup", "purchase")] == 12
    assert ("purchase", "signup") not in out  # never occurs in that order
    assert out[("signup", None)] == 12 and out[("purchase", None)] == 12


# ---------------------------------------------------------------------------
# Item-item cosine
# ---------------------------------------------------------------------------
def test_item_item_sim_bounds_and_topn(spark, sf_dir):
    out = REG["item_item_cosine_recs"].fn(spark, sf_dir)
    rows = out.collect()
    if not rows:
        pytest.skip("no co-purchased pairs at this SF")
    assert all(0 < r["sim"] <= 1.0 for r in rows)
    from collections import Counter

    per_item = Counter(r["item"] for r in rows)
    assert max(per_item.values()) <= 3
    # symmetry of the underlying measure: if (i,j) survives the noise
    # floor, sim(i->j) == sim(j->i) wherever both are emitted
    sims = {(r["item"], r["partner"]): r["sim"] for r in rows}
    for (i, j), s in sims.items():
        if (j, i) in sims:
            assert sims[(j, i)] == s


# ---------------------------------------------------------------------------
# MERGE full sync (tri-clause)
# ---------------------------------------------------------------------------
def test_merge_full_sync_partitions_keyspace(spark, sf_dir):
    """The three clause paths must partition the key universe: inserts are
    source-only keys, deletes are target-only keys, updates the overlap —
    and the post-merge key set (non-deleted) equals the source key set."""
    rows = REG["merge_full_sync"].fn(spark, sf_dir).collect()
    by_action = {}
    for r in rows:
        by_action.setdefault(r["action"], set()).add(r["key"])
    cust = {
        r["c_custkey"]
        for r in load_table(spark, sf_dir, "customer").select("c_custkey").collect()
    }
    src = {
        r["user_id"]
        for r in load_table(spark, sf_dir, "events").select("user_id").distinct().collect()
    }
    assert by_action.get("insert", set()) == src - cust
    assert by_action.get("delete", set()) == cust - src
    assert by_action.get("update", set()) == cust & src
    survivors = by_action.get("insert", set()) | by_action.get("update", set())
    assert survivors == src


# ---------------------------------------------------------------------------
# Incremental join-MV maintenance
# ---------------------------------------------------------------------------
def test_join_mv_maintenance_exercises_moves(spark, sf_dir):
    """The equality-vs-full-recompute proof is vacuous if no customer ever
    crosses a tier boundary — confirm the fixture actually produces
    movers (balance updates from events shifting the tier), so the MOVE
    delta path is genuinely exercised by the oracle parity test."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    upd = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("user_id").alias("key"), F.round("value", 2).alias("nb"))
    )

    def tier(b):
        return (
            F.when(b < 0, "debt").when(b < 2500, "low").when(b < 5000, "mid").otherwise("high")
        )

    movers = (
        c.join(upd, c.c_custkey == F.col("key"))
        .filter(tier(F.round("c_acctbal", 2)) != tier(F.round("nb", 2)))
        .count()
    )
    assert movers > 0, "fixture produces no tier movers — MOVE path untested"


# ---------------------------------------------------------------------------
# Terminator sessionization
# ---------------------------------------------------------------------------
def test_terminator_splits_within_gap(spark, tmp_path):
    """The semantics session_window cannot express: a purchase ENDS the
    session even when the next event arrives within the gap."""
    rows = [
        (0, "2024-03-01 10:00:00", 1, "view"),
        (1, "2024-03-01 10:05:00", 1, "purchase"),  # terminator
        (2, "2024-03-01 10:06:00", 1, "view"),  # 1 min later: NEW session
        (3, "2024-03-01 12:00:00", 1, "view"),  # gap split: third session
    ]
    df = spark.createDataFrame(
        [(e, ts, u, t, 1.0, "{}") for e, ts, u, t in rows],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    out = sorted(
        (r["session_seq"], r["n_events"], r["converted"])
        for r in REG["sessionize_with_terminators"].fn(spark, d).collect()
    )
    assert out == [(1, 2, True), (2, 1, False), (3, 1, False)]


# ---------------------------------------------------------------------------
# Hybrid hot-key join: both plan branches must exist
# ---------------------------------------------------------------------------
def test_hybrid_join_has_both_plan_shapes(spark, sf_dir):
    df = REG["hybrid_hotkey_join"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "hot branch lost its broadcast path"
    assert "SortMergeJoin" in plan, "cold branch lost its sort-merge path"


# ---------------------------------------------------------------------------
# Forward as-of
# ---------------------------------------------------------------------------
def test_asof_forward_is_next_at_or_after(spark, sf_dir):
    """Spot-verify against a per-user brute force: the joined event is the
    minimum event time >= order time (ties: lowest event_id) — and the
    result must be NON-empty on the fixtures (orders precede events), so
    the operator can't pass vacuously."""
    out = REG["asof_join_forward"].fn(spark, sf_dir)
    sample = out.limit(20).collect()
    assert sample, "forward as-of produced no matches — vacuous on fixture"
    o = {
        r["o_orderkey"]: r
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", F.unix_timestamp("o_orderdate").alias("t"))
        .collect()
    }
    events = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", F.unix_timestamp("ts").alias("t"))
        .collect()
    ):
        events.setdefault(r["user_id"], []).append((r["t"], r["event_id"]))
    for row in sample:
        od = o[row["o_orderkey"]]
        cands = [(t, k) for t, k in events.get(od["o_custkey"], []) if t >= od["t"]]
        assert cands, f"order {row['o_orderkey']} joined but no candidate exists"
        best = min(cands)
        assert (best[1], best[0] - od["t"]) == (
            row["next_event_id"],
            row["secs_until"],
        )


# ---------------------------------------------------------------------------
# Retention sweep
# ---------------------------------------------------------------------------
def test_retention_partitions_every_row(spark, sf_dir):
    """kept + held + expired must account for every event of each type,
    and legal-hold users' expired-age rows must land in n_held."""
    out = REG["retention_policy_sweep"].fn(spark, sf_dir).collect()
    totals = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in out:
        assert (
            r["n_kept_fresh"] + r["n_held"] + r["n_expired"]
            == totals[r["event_type"]]
        )
    # purchase rows are BY DEFINITION from held users: none may expire
    purchase = [r for r in out if r["event_type"] == "purchase"]
    if purchase:
        assert purchase[0]["n_expired"] == 0


# ---------------------------------------------------------------------------
# Token budget top-p
# ---------------------------------------------------------------------------
def test_token_budget_respects_and_fills_quota(spark, sf_dir):
    """Kept tokens never exceed the budget, and the selection is greedy-
    maximal: the next-ranked doc would overshoot."""
    from distributed_deep_learning_with_apache_spark_spark.operators.curation import TOPP_PCT
    from distributed_deep_learning_with_apache_spark_spark.functions.text import tokens

    out = {r["source"]: r for r in REG["token_budget_top_p"].fn(spark, sf_dir).collect()}
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tok"))
        .collect()
    )
    by_src = {}
    for d in docs:
        by_src.setdefault(d["source"], []).append((d["n_tok"], -d["doc_id"]))
    for src, r in out.items():
        assert r["tokens_kept"] * 100 <= r["tokens_total"] * TOPP_PCT
        ordered = sorted(by_src[src], reverse=True)
        if r["n_docs_kept"] < len(ordered):
            nxt = ordered[r["n_docs_kept"]][0]
            assert (r["tokens_kept"] + nxt) * 100 > r["tokens_total"] * TOPP_PCT


# ---------------------------------------------------------------------------
# Markov transitions
# ---------------------------------------------------------------------------
def test_markov_rows_are_distributions(spark, sf_dir):
    out = REG["markov_event_transitions"].fn(spark, sf_dir).collect()
    if not out:
        pytest.skip("no transitions at this SF")
    from collections import defaultdict

    psum = defaultdict(float)
    for r in out:
        assert 0 < r["p"] <= 1
        psum[r["from_type"]] += r["p"]
    for ft, s in psum.items():
        assert abs(s - 1.0) < 1e-4, f"{ft} row sums to {s}"


# ---------------------------------------------------------------------------
# Lake incremental read
# ---------------------------------------------------------------------------
def test_incremental_read_touches_only_delta_files(spark, sf_dir):
    """The v1→v2 consumer must produce exactly the appended (odd-keyed)
    slice — equality with a direct recompute proves no v1 file was read
    (even-keyed rows would contaminate the counts)."""
    out = {
        r["o_orderpriority"]: (r["n_orders"], r["price_cents"])
        for r in REG["lake_incremental_read"].fn(spark, sf_dir).collect()
    }
    truth = {
        r["o_orderpriority"]: (r["n"], r["c"])
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 1)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("c"),
        )
        .collect()
    }
    assert out == truth



# ---------------------------------------------------------------------------
# Funnel durations
# ---------------------------------------------------------------------------
def test_funnel_durations_positive_and_consistent(spark, sf_dir):
    """Durations are strictly positive by construction (strictly-later
    stages) and stage user counts must match events_funnel's counts."""
    out = {r["stage"]: r for r in REG["funnel_stage_durations"].fn(spark, sf_dir).collect()}
    if not out:
        pytest.skip("no funnel conversions at this SF")
    for r in out.values():
        assert r["p50_secs"] > 0 and r["p90_secs"] >= r["p50_secs"]
    fun = REG["events_funnel"].fn(spark, sf_dir).first()
    if "signup_to_view" in out:
        assert out["signup_to_view"]["n_users"] == fun["n_view_after_signup"]
    if "view_to_purchase" in out:
        assert out["view_to_purchase"]["n_users"] == fun["n_purchase_after_view"]


# ---------------------------------------------------------------------------
# A/B readout
# ---------------------------------------------------------------------------
def test_ab_assignment_balanced_and_exhaustive(spark, sf_dir):
    out = REG["ab_test_lift_ztest"].fn(spark, sf_dir).first()
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert out["na"] + out["nb"] == n_users
    # top-bit split of a Weyl orbit: arms within 25% of each other
    assert min(out["na"], out["nb"]) >= 0.375 * n_users
    assert out["ca"] <= out["na"] and out["cb"] <= out["nb"]


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------
def test_kcore_converged_and_degrees_hold(spark, sf_dir):
    """Every surviving node keeps degree >= K (the core property — which
    also proves the peel CONVERGED within the fixed rounds: an
    unconverged graph would still hold degree-<K nodes)."""
    from distributed_deep_learning_with_apache_spark_spark.operators.graph import KCORE_K

    rows = REG["kcore_copurchase"].fn(spark, sf_dir).collect()
    if not rows:
        pytest.skip("graph fully peeled at this SF")
    assert all(r["core_degree"] >= KCORE_K for r in rows)


def test_ab_z_statistic_on_split_conversion(spark, tmp_path):
    """Exercise the z arithmetic on a corpus where conversion is PARTIAL
    (the fixtures convert 100% of users, so their z is NULL by design):
    hand-computed pooled two-proportion z must match to the 1e-4 quantum."""
    import math

    rows = []
    eid = 0
    for u in range(40):
        rows.append((eid, u, "view")); eid += 1
        # convert a deterministic, arm-skewed subset
        if u % 3 == 0:
            rows.append((eid, u, "purchase")); eid += 1
    df = spark.createDataFrame(
        [(e, f"2024-03-01 00:{e//60:02d}:{e%60:02d}", u, t, 1.0, "{}") for e, u, t in rows],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    out = REG["ab_test_lift_ztest"].fn(spark, d).first()
    na, ca, nb, cb = out["na"], out["ca"], out["nb"], out["cb"]
    assert na + nb == 40 and 0 < ca + cb < 40
    pa, pb = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    se = math.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    z = math.floor((pb - pa) / se * 10_000 + 0.5) / 10_000
    assert out["z_stat"] == z
    assert out["lift"] == math.floor((pb - pa) * 1_000_000 + 0.5) / 1_000_000



# ---------------------------------------------------------------------------
# Seasonal residual alerts
# ---------------------------------------------------------------------------
def test_residual_alerts_flag_injected_spike(spark, tmp_path):
    """A synthetic flat weekly series with one spiked day: the spike (and
    only days perturbed by its moving-average window) may flag; the spike
    itself MUST flag — the robust bar can't be poisoned by its own
    outlier the way a stddev bar is."""
    import datetime as dt

    rows = []
    base = dt.datetime(1995, 1, 2)  # a Monday
    for i in range(60):
        day = base + dt.timedelta(days=i)
        # weekly pattern + deterministic jitter: a PERFECTLY periodic
        # series has MAD 0 (every tiny MA edge effect then flags) — real
        # series have a noise floor, so the synthetic one gets one too
        price = 1000.0 + (i % 7) * 10.0 + ((i * 37) % 100) / 100.0
        if i == 30:
            price += 5000.0  # the anomaly
        rows.append((i, i % 50, "O", price, day, "1-URGENT"))
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(d + "/orders.parquet")
    out = {
        r["day"].isoformat(): r
        for r in REG["seasonal_residual_alerts"].fn(spark, d).collect()
    }
    spike_day = (base + dt.timedelta(days=30)).date().isoformat()
    assert out[spike_day]["is_anomaly"] is True
    n_flagged = sum(1 for r in out.values() if r["is_anomaly"])
    # A single extreme spike contaminates (a) its 7-day MA window and
    # (b) every day sharing its day-of-week (the MEAN seasonal absorbs
    # 1/n_dow of the spike — classical decomposition is not robust;
    # that's why STL iterates with robustness weights, documented in the
    # operator). Bound: window (7) + dow peers (~9) + jitter edge cases,
    # but never a majority of the series.
    assert n_flagged < len(out) / 2, f"{n_flagged} of {len(out)} days flagged"
    # and the spike dominates every secondary (contamination) deviation
    others = max(r["abs_dev"] for k, r in out.items() if k != spike_day)
    assert out[spike_day]["abs_dev"] > 4 * others


def test_residual_alerts_agree_with_decomposition(spark, sf_dir):
    """The alert's residuals must equal seasonal_decompose_daily_revenue's
    residual_cents day for day (same pipeline, same quantization)."""
    alerts = {
        r["day"]: r["residual_cents"]
        for r in REG["seasonal_residual_alerts"].fn(spark, sf_dir).collect()
    }
    decomp = {
        r["day"]: r["residual_cents"]
        for r in REG["seasonal_decompose_daily_revenue"].fn(spark, sf_dir).collect()
    }
    assert alerts == decomp


# ---------------------------------------------------------------------------
# Code detection
# ---------------------------------------------------------------------------
def test_code_detection_routes_code_vs_prose(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    prose = "the quick brown fox jumps over the lazy dog and runs away home"
    code = "def f(x):\n    return {k: v*2 for k, v in x.items() if v != 0}"
    docs = [(0, prose, "en", "web", len(prose)), (1, code, "en", "web", len(code))]
    d = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([x[0] for x in docs], pa.int64()),
                "text": pa.array([x[1] for x in docs]),
                "lang": pa.array([x[2] for x in docs]),
                "source": pa.array([x[3] for x in docs]),
                "n_chars": pa.array([x[4] for x in docs], pa.int64()),
            }
        ),
        d + "/documents.parquet",
    )
    out = {r["doc_id"]: r for r in REG["doc_code_detection"].fn(spark, d).collect()}
    assert out[0]["is_code_like"] is False
    assert out[1]["is_code_like"] is True
    assert 0 <= out[0]["symbol_bp"] < 800 <= out[1]["symbol_bp"] <= 10000
