"""Central query registry.

Every operator implemented from SURVEY.md §2 registers here as a named
query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an equivalent ANSI-SQL string the DuckDB
oracle runs on the same parquet tables. ``__spark_entry__.py`` simply
re-exports this registry.

Column-name parity contract: the Spark DataFrame and the oracle SQL must
produce identical column names (the driver sorts columns by name before
hashing). Helpers here do not enforce it; tests/test_oracle_parity.py does.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: add a query to the registry."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags, bench=bench)
        return fn

    return deco


# The driver's correctness gate iterates ``queries()`` in dict order and
# checks exactly 50 queries per round (CORRECTNESS_r01-r12: 50 rows each;
# union coverage 338/338 since r12).
# Rotation (r12 verdict #8: keep the oracle-heavy mix now that every
# lifecycle op holds an execution row — >=46 of the 50 slots produce a
# hash verdict): (a) the latest changed-code oracle-bearing names lead
# (the standing re-earn rule), then (a') the previous change sets,
# (c) exactly 4 rows-only slots for the IVF lifecycle ops whose code
# changed last, then (d)/(e) the names the r12 rotation
# displaced — the r6 tail that sat at slot 51+ plus PERF_r12's
# queries_dropped list (all held prior green rows; displacement, not
# removal).
# Rows-only names appear only under (c), where a fresh execution row is
# the point; every (a)/(a')/(d)/(e) slot produces a hash verdict.
# Regenerate this list each round from the CORRECTNESS_r* latest-row map.
_DRIVER_PRIORITY = [
    # --- (a) oracle-bearing queries whose code changed last, re-earned
    # first: driver-built frames became local frames, driver-held state
    # literal rows, store reads carry their schema and the five stream
    # folds run one aggregate per micro-batch (30) ------------------
    "customer_rfm_segments",
    "quality_tiers",
    "quantile_two_pass_exact",
    "grouped_quantile_exact",
    "mad_price_outliers",
    "stream_foreachbatch_merge",
    "stream_exactly_once_merge_restart",
    "stream_kmv_distinct_running",
    "stream_countmin_running",
    "stream_bitmap_distinct_running",
    "source_avro_events_agg",
    "source_csv_orders_agg",
    "source_json_events_agg",
    "source_xml_events_agg",
    "source_orc_lineitem_agg",
    "sink_custom_writer_roundtrip",
    "batch_observed_metrics",
    "lake_partition_pruned_revenue",
    "lake_schema_evolution",
    "lake_dynamic_partition_overwrite",
    "lake_compact_small_files",
    "lake_vacuum_expire",
    "lake_dpp_star_join",
    "lake_wap_publish",
    "lake_restore_version",
    "lake_shallow_clone_divergence",
    "near_dup_incremental",
    "near_dup_index_append_cycle",
    "near_dup_retract_reprobe",
    "near_dup_compact_tombstones",
    # --- (a') the rest of the previous change set: the order-statistics
    # ops on one prefix sum, and the binary-file row map (5) ---------
    "row_ids_distributed",
    "gini_revenue_concentration",
    "decile_lift_table",
    "abc_pareto_classification",
    "multimodal_frame_sample",
    # --- (c) changed rows-only: the IVF lifecycle ops, whose store
    # reads now carry their schema; a fresh driver execution row
    # re-earns them. The other changed rows-only serves get execution
    # rows from the BENCH headline/tier-2 set, keeping the rows-only
    # slot spend at 4 (>=46 of 50 slots oracle-bearing) (4) ----------
    "ann_ivf_pq_append_batch",
    "ann_ivf_append_batch",
    "ann_ivf_delete_serve",
    "ann_ivf_compact_tombstones",
    # --- (d) the r6 re-confirmation tail displaced by the r12
    # rotation (8) ---------------------------------------------------
    "range_join_events_after_order",
    "shortest_paths_bfs",
    "sql_pipe_syntax",
    "text_quality",
    "tfidf_top_terms",
    "token_counts",
    "tokenize_truncate",
    "zipf_fit",
    # --- (e) displaced r12 re-confirmations: the PERF_r12
    # queries_dropped list (driver-rotation displacement, all with
    # prior green rows), alphabetical; the first 3 fill the 50 -------
    "ann_matryoshka_refine",
    "ansi_safe_doc_ratios",
    "bloom_semijoin_pruned",
    # ==== slot 51+ from here: fronts the next rotation ==============
    # --- r12-displaced remainder (34) -------------------------------
    "bucketed_join_revenue",
    "business_days_to_ship",
    "cdc_snapshot_diff",
    "collated_token_counts",
    "distinct_multi_two_phase",
    "events_ohlc_hourly",
    "events_retention_cohorts",
    "except_all_order_priorities",
    "global_agg_stats",
    "grouped_apply_in_arrow",
    "heavy_hitters_sketch_verified",
    "incremental_agg_maintenance",
    "intersect_all_order_priorities",
    "interval_month_overlap_revenue",
    "k_anonymity_violations",
    "lake_deletion_vectors",
    "lake_zorder_recluster",
    "lake_zorder_write",
    "lateral_top3_orders",
    "leakage_safe_splits",
    "locf_forward_fill",
    "map_in_arrow_bytes",
    "notin_nullaware_anti",
    "ntile_balance_quartiles",
    "nullsafe_bucket_join",
    "percentile_band_segments",
    "recursive_calendar_daily",
    "salted_join_quantity_tier",
    "segment_nation_rollcall",
    "text_normalize_nfc",
    "top10_orders",
    "top_ngrams_boilerplate",
    "udtf_chunk_spans",
    "union_account_balances",
]
def load_all() -> dict[str, Query]:
    """Import every query-defining module, then return the registry."""
    # Imports are side-effectful (decorators fill REGISTRY).
    from .operators import (  # noqa: F401
        asof,
        curation,
        decision_support,
        dedup,
        graph,
        incremental,
        merge,
        quality,
        relational,
        retrieval,
        setops,
        similarity,
        textpipe,
        topk,
    )
    from .functions import arrays, text, udf_surface  # noqa: F401
    from .sources import arrow_writer_sink, binary, formats, lake, pngv_datasource  # noqa: F401
    from .streaming import events  # noqa: F401
    from .ml import cnn as ml_cnn  # noqa: F401
    from .ml import distributed as ml_distributed  # noqa: F401
    from .ml import queries as ml_queries  # noqa: F401

    ordered = {n: REGISTRY[n] for n in _DRIVER_PRIORITY if n in REGISTRY}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    return ordered
