#!/usr/bin/env python
"""10× scale smoke test: does the plan survive a scale-up, measured.

Builds a ~sf1-equivalent dataset in /tmp by unioning 10 key-shifted
copies of the sf0.1 tables (every key column offset by i*STRIDE, so
joins stay consistent within a copy and cardinalities scale ~10×),
then times a set of heavy headline queries at both scales and prints the
time ratio. A scale-safe plan shows ~linear growth (ratio ≈ 10 of work on
32 fixed cores, usually less wall-clock ratio thanks to fixed overheads);
a quadratic candidate generator or an unbounded per-key state would blow
past it or OOM.

Usage: python tools/scale_smoke.py [--copies 10]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from distributed_deep_learning_with_apache_spark_spark.registry import load_all
from distributed_deep_learning_with_apache_spark_spark.session import get_spark
from distributed_deep_learning_with_apache_spark_spark.sources.catalog import (
    TABLE_SCHEMAS,
    load_table,
)

SRC = "/root/testdata/sf0.1"
STRIDE = 10_000_000


def dst_for(copies: int) -> str:
    # keep the historical path for the default 10x so its build cache
    # survives; other multipliers get their own universe (r8: the 30x
    # point that turns the kcore/item_item "linear work" argument into a
    # measured curve).
    return "/tmp/ddl_spark_scale10" if copies == 10 else f"/tmp/ddl_spark_scale_x{copies}"

# Key columns to shift per table so each replica is a disjoint, join-
# consistent universe.
KEY_COLS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

QUERIES = [
    "pricing_summary",
    "local_supplier_volume",
    "grouped_best_worst_orders",
    "events_sessionized",
    "near_dup_minhash_verified",
    "anomaly_best_worst",
    "dedup_exact_survivors",
    "ann_ivf_persisted",
    # round-3 additions
    "hybrid_retrieval_rrf",
    "top_ngrams_boilerplate",
    "psi_drift_events",
    "reservoir_sample_per_group",
    "ml_fpgrowth_item_pairs",
    "events_hourly_gapfill",
    "events_props_variant",
    "events_rate_anomaly_zscore",
    # round-4 additions: the r3 scale-tagged queries without measured ratios
    "ann_pq_adc",
    "semantic_dedup",
    "near_dup_containment_stopfiltered",
    "salted_join_quantity_tier",
    "bucketed_join_revenue",
    "near_dup_edit_distance",
    "ann_matryoshka_refine",
    # round-5: the r4 additions without measured ratios + new r5 operators
    "recursive_calendar_daily",
    "udtf_chunk_spans",
    "k_anonymity_violations",
    "incremental_agg_maintenance",
    "skew_agg_two_phase",
    "heavy_hitters_sketch_verified",
    "ann_ivf_pq_refined",
    "quantile_two_pass_exact",
    "bloom_semijoin_pruned",
    # round-5 second batch: every remaining scale-tagged query gets a ratio
    "simhash64_near_dup_pairs",
    "join_key_skew_profile",
    "lake_snapshot_time_travel",
    "sample_weighted_quality",
    "near_dup_jaccard_stopfiltered",
    "pack_sequences",
    "mix_domains_to_target",
    "dedup_incremental",
    "dq_constraint_checks",
    "hll_daily_distinct_rollup",
    "approx_stats_lineitem",
    "embedding_quantize_int8",
    # round-5 third batch: new ops landing this round
    "dedup_clusters_logstar",
    "row_ids_distributed",
    "cdc_snapshot_diff",
    "lake_deletion_vectors",
    "grouped_quantile_exact",
    "distinct_multi_two_phase",
    # round-5 fourth batch
    "pagerank_purchase_graph",
    "lake_compact_small_files",
    "lake_dpp_star_join",
    "triangle_count_copurchase",
    # round-6: new ops + the heaviest late-r5 source without a ratio
    "near_dup_incremental",
    "source_xml_events_agg",
    "skyline_pareto_parts",
    "shortest_paths_bfs",
    "cosine_topk_filtered",
    "lake_wap_publish",
    "events_session_window_builtin",
    "customer_rfm_segments",
    "attribution_last_touch",
    "events_local_hour_histogram",
    "mad_price_outliers",
    "near_dup_index_append_cycle",
    "embedding_drift_by_label",
    # round-7: new scale-tagged ops
    "sample_seeded",
    "sample_takesample_k",
    "quantile_sketch_rollup_monthly",
    "kmv_user_overlap_sketch",
    "stream_exactly_once_merge_restart",
    "seasonal_decompose_daily_revenue",
    "stream_kmv_distinct_running",
    "bigram_perplexity_score",
    "ml_prefixspan_event_paths",
    "item_item_cosine_recs",
    "merge_full_sync",
    "incremental_join_maintenance",
    "asof_join_forward",
    "sessionize_with_terminators",
    "hybrid_hotkey_join",
    "retention_policy_sweep",
    "token_budget_top_p",
    "markov_event_transitions",
    "lake_incremental_read",
    "funnel_stage_durations",
    "ab_test_lift_ztest",
    "kcore_copurchase",
    "seasonal_residual_alerts",
    "doc_code_detection",
    # round-8: new scale-tagged ops
    "knn_classify_embeddings",
    "countmin_estimate_profile",
    "ewma_dyadic_revenue",
    "out_of_order_lateness_histogram",
    "running_distinct_users_daily",
    "ivm_agg_retractions",
    "stream_countmin_running",
    "pca_power_iteration_quantized",
    "lsh_band_tuning_profile",
    "table_checksum_buckets",
    "range_partition_boundaries",
    "bootstrap_ci_revenue",
    "vocab_oov_rate",
    "json_schema_profile",
    "gini_revenue_concentration",
    "ks_two_sample_drift",
    "twap_monthly_revenue",
    "decile_lift_table",
    "cohort_ltv_curve",
    "log2_value_histogram",
    # round-9: new scale-tagged ops
    "nation_revenue_trend",
    "share_of_parent_revenue",
    "pmi_priority_status",
    "floored_running_balance",
    "hot_streak_islands",
    # round-9 second batch
    "autocorr_daily_revenue",
    "haar_wavelet_daily_revenue",
    "user_event_entropy",
    "bitmap_distinct_users",
    "stream_bitmap_distinct_running",
    "abc_pareto_classification",
    "near_dup_prefix_filter_jaccard",
    "ann_binary_hamming",
    "interval_month_overlap_revenue",
    "merkle_tree_levels",
    "business_days_to_ship",
    "time_decay_customer_score",
    # round-10: the two prefix-sum rewrites (customer_rfm_segments is
    # already in the r6 section; quality_tiers gets its first curve)
    "quality_tiers",
    # round-11: the new lifecycle ops
    "lake_zorder_write",
    "lake_zorder_recluster",
    "stream_near_dup_incremental",
    "ann_ivf_append_batch",
    # round-12: the composed IVF×PQ append lifecycle + the retraction ops
    "ann_ivf_pq_append_batch",
    "near_dup_retract_reprobe",
    "ann_ivf_delete_serve",
    "ann_ivf_compact_tombstones",
    "near_dup_compact_tombstones",
]


def big_png_corpus(copies: int) -> str:
    """An N×-larger PNG corpus for the image-phash scale probe: same
    deterministic generator, `copies`× images per label (idx shifts the
    glyph jitter, so hash diversity tracks the fixture's)."""
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import build_once
    from distributed_deep_learning_with_apache_spark_spark.sources.pngcodec import (
        IMGS_PER_LABEL,
        N_LABELS,
        encode_gray_png,
        synth_image,
    )

    def write(stage: str) -> None:
        for label in range(N_LABELS):
            d = os.path.join(stage, str(label))
            os.makedirs(d)
            for i in range(IMGS_PER_LABEL * copies):
                with open(os.path.join(d, f"img_{i:04d}.png"), "wb") as f:
                    f.write(encode_gray_png(synth_image(label, i)))

    return build_once(f"/tmp/ddl_spark_png_scale_x{copies}", ".complete", write)


def phash_scale_probe(spark, copies: int) -> dict:
    """image_phash_neardup doesn't read sf_dir (its input is the PNG
    corpus), so it scales by corpus size instead: fixture (240 imgs) vs
    copies× images."""
    from distributed_deep_learning_with_apache_spark_spark.sources.binary import (
        phash_neardup_over,
    )
    from distributed_deep_learning_with_apache_spark_spark.sources.pngcodec import (
        ensure_fixture_corpus,
    )

    small_root = ensure_fixture_corpus()
    big_root = big_png_corpus(copies)
    t_small = time_query(lambda s, _: phash_neardup_over(s, small_root), spark, SRC)
    t_big = time_query(lambda s, _: phash_neardup_over(s, big_root), spark, SRC)
    return {
        "sf0.1_s": t_small,
        f"x{copies}_s": t_big,
        "ratio": round(t_big / t_small, 2),
    }


def build(spark, copies: int) -> None:
    dst = dst_for(copies)
    for name in TABLE_SCHEMAS:
        out = os.path.join(dst, f"{name}.parquet")
        if os.path.exists(out):
            continue
        base = load_table(spark, SRC, name)
        if not KEY_COLS[name]:  # constant dims: keep one copy
            base.write.mode("overwrite").parquet(out)
            continue
        parts = []
        for i in range(copies):
            df = base
            for c in KEY_COLS[name]:
                df = df.withColumn(c, F.col(c) + F.lit(i * STRIDE))
            parts.append(df)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(out)


def time_query(fn, spark, sf_dir: str) -> float:
    fn(spark, sf_dir).count()  # warm (plan + codegen)
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    copies = 10
    if "--copies" in sys.argv:
        copies = int(sys.argv[sys.argv.index("--copies") + 1])
    spark = get_spark("scale_smoke")
    build(spark, copies)
    dst = dst_for(copies)
    report = {}
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    for name in QUERIES:
        if only and name not in only:
            continue
        q = load_all()[name]
        t_small = time_query(q.fn, spark, SRC)
        t_big = time_query(q.fn, spark, dst)
        report[name] = {
            "sf0.1_s": t_small,
            f"x{copies}_s": t_big,
            "ratio": round(t_big / t_small, 2),
        }
    if only is None or "image_phash_neardup" in (only or set()):
        report["image_phash_neardup"] = phash_scale_probe(spark, copies)
    print(json.dumps({"copies": copies, "queries": report}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
