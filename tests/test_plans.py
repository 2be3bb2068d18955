"""Plan-quality gates: the physical plans we'd want at 100 TB, asserted.

Pushdown reaching the parquet scan, dimension joins going broadcast,
top-k compiling to TakeOrderedAndProject, no cartesian products in the
candidate-join pipelines, and column pruning in ReadSchema.
"""

import pytest

from distributed_deep_learning_with_apache_spark_spark.registry import load_all

REG = load_all()


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = physical(REG["pricing_summary"].fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark, sf_dir):
    plan = physical(REG["filter_contains_project"].fn(spark, sf_dir))
    # Scan must read only the three projected columns.
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double>" in plan


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = physical(REG["revenue_per_customer"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_star_all_broadcast(spark, sf_dir):
    plan = physical(REG["revenue_per_region"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3


def test_topk_is_take_ordered(spark, sf_dir):
    plan = physical(REG["top10_orders"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_in_candidate_joins(spark, sf_dir):
    for name in [
        "near_dup_minhash_verified",
        "near_dup_jaccard",
        "range_join_events_after_order",
        "simhash_near_dup_pairs",
    ]:
        plan = physical(REG[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_semi_anti_join_operators(spark, sf_dir):
    assert "LeftSemi" in optimized(REG["customers_with_open_orders"].fn(spark, sf_dir))
    assert "LeftAnti" in optimized(REG["customers_without_orders"].fn(spark, sf_dir))


def test_window_shares_single_shuffle(spark, sf_dir):
    # Both rank windows partition by the same key -> exactly one exchange
    # below the window operators.
    plan = physical(REG["grouped_best_worst_orders"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(o_custkey") <= 1


def test_q16_exclusion_and_distinct_plan(spark, sf_dir):
    # Anti exclusion broadcasts; part predicates reach the part scan;
    # no sort-merge anywhere (both non-fact sides are broadcast-sized).
    plan = physical(REG["part_supplier_counts"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters" in plan and "Not(EqualTo(p_brand,Brand#9))" in plan


def test_scalar_subquery_shapes_stay_broadcast(spark, sf_dir):
    # Q11/Q15/Q20 join a 1-row aggregate back in; that must compile to a
    # broadcast nested-loop over ONE row, never a CartesianProduct.
    for name in [
        "important_part_values",
        "promotion_candidate_suppliers",
        "top_supplier_revenue",
        "mix_domains_to_target",
    ]:
        plan = physical(REG[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_events_scan_prunes_props(spark, sf_dir):
    # The tumbling agg never touches the wide props column.
    plan = physical(REG["events_tumbling_hourly"].fn(spark, sf_dir))
    assert "props" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_minhash_shingle_build_computes_once(spark, sf_dir):
    """The near-dup pipeline's expensive shingle+md5 build feeds four
    consumers (bands a/b, verify a/b). The r11 form relied on
    ReusedExchange collapsing byte-identical subtrees, which silently
    stopped firing once the candidate joins planned as broadcast joins
    (broadcast sides can never reuse a shuffle exchange — the r12
    optimization pass measured 4 FileScans / 0 ReusedExchange in the
    executed sf0.1 plan, i.e. the dominant stage ran 4x). The build now
    materializes ONCE per invocation behind an eager localCheckpoint, so
    the structural pin is: the query's own plan contains NO file scan of
    the documents table at all — every consumer reads the checkpointed
    signature RDD, and re-deriving the corpus pipeline is impossible by
    construction.
    """
    df = REG["near_dup_minhash_verified"].fn(spark, sf_dir)
    plan = physical(df)
    assert "FileScan" not in plan, "shingle build leaked back into the query plan"
    assert "ExistingRDD" in plan  # all consumers read the one checkpoint


def test_bm25_is_shuffle_free_topk(spark, sf_dir):
    """BM25's contract: tf/dl are scan-stage expressions, the corpus stats
    broadcast back as one row, and the ordering work is the final top-k —
    so no hash exchange anywhere and the sort compiles to
    TakeOrderedAndProject."""
    plan = physical(REG["bm25_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_pack_sequences_single_window_shuffle(spark, sf_dir):
    """Sequence packing is shard-local: one window exchange on source,
    nothing else (the document text never reaches the shuffle)."""
    plan = physical(REG["pack_sequences"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "text" not in plan.split("Exchange hashpartitioning")[1].split("\n")[0]


def test_simhash_fingerprint_build_computes_once(spark, sf_dir):
    """simhash_near_dup_pairs consumes the fingerprint table four times
    (bands a/b, verify a/b); the tokenize+md5 tree is the expensive part
    and must be computed once. Like the minhash gate above, the r12
    optimization pass replaced the fragile ReusedExchange reliance with
    an eager per-invocation localCheckpoint of the KB-sized fingerprint
    table, so the structural pin is now: no file scan (hence no
    fingerprint re-derivation) can appear in the query's own plan."""
    df = REG["simhash_near_dup_pairs"].fn(spark, sf_dir)
    plan = physical(df)
    assert "FileScan" not in plan, "fingerprint build leaked back into the plan"
    assert "ExistingRDD" in plan


def test_curation_pipeline_single_shuffle(spark, sf_dir):
    """corpus_curation_pipeline's 100 TB claim: quality gate + hash sample
    are scan-stage predicates, so the whole run is the dedup window
    exchange plus the tiny final agg exchange — no other shuffles."""
    from distributed_deep_learning_with_apache_spark_spark.plans import checks

    q = load_all()["corpus_curation_pipeline"]
    df = q.fn(spark, sf_dir)
    s = checks.explain_summary(df)
    assert s["parquet_scans"] == 1, s
    assert s["exchanges"] <= 2, s  # dedup window + final 5-group agg
    assert s["cartesian_products"] == 0, s


def test_pii_scrub_is_shuffle_free(spark, sf_dir):
    # Per-row regex redaction must stay inside the scan's partitions.
    plan = physical(REG["pii_scrub"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_winsorize_broadcasts_quantiles(spark, sf_dir):
    # The 1-row quantile aggregate joins back via broadcast, never a
    # cartesian/nested-loop over the fact table rows per partition.
    plan = physical(REG["clip_outliers_winsorize"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_incremental_dedup_is_anti_join(spark, sf_dir):
    plan = physical(REG["dedup_incremental"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_zorder_key_no_cartesian(spark, sf_dir):
    # The max_p/max_s 1-row aggregate must broadcast, not nested-loop.
    plan = physical(REG["lake_zorder_stats"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_image_phash_no_cartesian(spark, sf_dir):
    plan = physical(REG["image_phash_neardup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_lm_is_broadcast_join(spark, sf_dir):
    """The bigram LM (dimension-sized after the frequency floor) must join
    back by broadcast, not a shuffled sort-merge."""
    plan = physical(REG["bigram_lm_quality"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_grouping_sets_single_expand_pass(spark, sf_dir):
    """GROUPING SETS must compile to one Expand feeding one aggregation
    tree — not a union of three separate scans."""
    plan = physical(REG["grouping_sets_revenue"].fn(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_skew_profile_two_level_agg(spark, sf_dir):
    """Per-key counts then distribution stats: no join, no window — two
    hash aggregations with map-side partials."""
    plan = physical(REG["join_key_skew_profile"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan


def test_survivors_singletons_use_broadcast_anti_join(spark, sf_dir):
    plan = physical(REG["dedup_cluster_survivors"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_pq_adc_no_cartesian_no_vector_shuffle(spark, sf_dir):
    """ADC scoring happens in the codes scan's partitions; the only
    shuffle is the final per-query top-k window."""
    plan = physical(REG["ann_pq_adc"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_ivf_cell_assignment_udf_evaluates_once(spark, sf_dir):
    """The Arrow cell-assignment UDF runs once per row: a nullable cell
    would let the probe equi-join's inferred isnotnull(cell) filter clone
    it into a second ArrowEvalPython node."""
    plan = physical(REG["ann_ivf_kmeans"].fn(spark, sf_dir))
    assert plan.count("ArrowEvalPython") == 1, plan


def test_video_keyframe_is_shuffle_free(spark, sf_dir):
    plan = physical(REG["video_keyframe_decode"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_semantic_dedup_is_cell_equijoin(spark, sf_dir):
    # The within-cluster self-compare must be an equi-join on the cell id,
    # never an all-pairs product (SemDeDup's whole point at 100 TB).
    plan = physical(REG["semantic_dedup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_span_dedup_no_cartesian(spark, sf_dir):
    # Span → dup-gram marking is equi-keyed on the span text; the per-doc
    # rollup joins back on doc_id. Nothing may degenerate to all-pairs.
    plan = physical(REG["substring_span_dedup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_length_bucket_packing_single_agg_reads_text_only(spark, sf_dir):
    # One hash aggregate over ≤6 bucket keys; the scan must prune to the
    # text column (token counting needs nothing else).
    plan = physical(REG["length_bucket_packing"].fn(spark, sf_dir))
    assert "ReadSchema: struct<text:string>" in plan


def test_salted_join_exchange_carries_salt(spark, sf_dir):
    """r4: the salted join must actually repartition on (q, salt) — the
    whole point is the exchange key gaining entropy — and execute as a
    shuffled hash join (the hint models the can't-broadcast case)."""
    import re

    df = REG["salted_join_quantity_tier"].fn(spark, sf_dir)
    df.collect()
    plan = physical(df)
    assert re.search(r"Exchange hashpartitioning\(q#\d+, salt#\d+", plan), plan[:2000]
    assert "ShuffledHashJoin" in plan


def test_retraction_overlay_is_broadcast_anti_join(spark, sf_dir):
    """r12: the deletion-vector overlay must execute as a BROADCAST anti
    join on both the band-postings and shingle-store probe sides — the
    O(|deleted|)-sidecar claim dies if the overlay shuffles the store.
    Built inline (the registered ops return post-collect frames after
    their in-op gates)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from distributed_deep_learning_with_apache_spark_spark.operators.dedup import (
        INC_HIST_KEEP,
        INC_HIST_MOD,
        RETRACT_MOD,
        build_band_index,
    )
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import (
        load_table,
    )

    root = build_band_index(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    tomb = d.filter(
        (F.col("doc_id") % INC_HIST_MOD < INC_HIST_KEEP)
        & (F.col("doc_id") % RETRACT_MOD == 0)
    ).select("doc_id")
    live = spark.read.parquet(os.path.join(root, "bands")).join(
        F.broadcast(tomb), "doc_id", "left_anti"
    )
    plan = physical(live)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
