"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query at sf0.001; ``queries`` exposes every
implemented operator from SURVEY.md §2 (+ extensions); ``oracle_sql`` gives
the DuckDB-equivalent SQL per query for the hash-compare correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from go_nats_to_clickhouse_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the reference's own richest relational expression: the
    full ingest -> MV-cascade analytics projection (init.sql:100-121).
    """
    return QUERIES["mv_analytics_projection"](spark, "/root/testdata/sf0.001")


#: Queries a budget-capped correctness harness should reach FIRST (the
#: driver samples the first 50 registrations). Invariant maintained every
#: time a query is added: every never-driver-sampled query and every query
#: whose engine/oracle changed this round sits INSIDE the first 50, with
#: the flagship pinned at index <= 49; already-double-green re-confirmation
#: rows yield their slots first. The rest keep registration order behind.
_PRIORITY = [
    # --- round 12: never-driver-sampled rows first (staleness
    # invariant) — the four gram-lifecycle rows deferred from round 11
    # (queries.text_r11.register() now called from queries/__init__)
    # plus the NEW compacted cell (VERDICT r11 ask #5) ---
    "dedup_repeated_substring_erased_read",
    "dedup_repeated_substring_appended_read",
    "dedup_repeated_substring_erased_appended_read",
    "dedup_repeated_substring_streamed_read",
    "dedup_repeated_substring_compacted_read",
    # --- changed-oracle rows must re-enter the window: the shared
    # _V2_SQL CTE in clickhouse_r11 gained floor(epoch(ts)) truncation
    # this round (ADVICE r11 #1), which rewrites BOTH rows' oracle
    # strings (EMA's values can move; skew/kurt's cannot — t_sec is
    # unused there — but the staleness gate keys on the oracle text) ---
    "agg_exp_moving_avg",
    "agg_skew_kurt",
    "mv_analytics_projection",  # flagship, pinned inside the window
    # --- round-12 OPTIMIZATION round: queries whose engine functions
    # were respelled for plan shape (map-side minhash sizes/sets, model
    # broadcast, reuse snapshots). Results are oracle-identical (selfcheck
    # green at sf0.001/sf0.01), but the staleness invariant requires every
    # changed engine fn to re-enter the driver window ---
    "agg_ddsketch_quantiles",
    "agg_max_intersections",
    "agg_with_totals",
    "behavioral_retention_matrix",
    "dedup_cluster_profile",
    "dedup_connected_components",
    "dedup_containment_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_paragraph_exact",
    "dedup_semantic_buckets",
    "funnel_conversion",
    "join_asof_last_click",
    "pipeline_dedup_provenance_day3",
    "pipeline_leakage_safe_split",
    "pipeline_leakage_safe_split_day3",
    "pipeline_leakage_safe_split_erased",
    "pipeline_shard_report",
    "q2_best_supplier_per_part",
    "retention_cohorts",
    "text_bigram_lm_score",
    "text_boilerplate_ngrams",
    "text_dsir_weights",
    "text_selection_curve",
    "timeseries_anomaly_mad",
    "window_funnel_strict_order",
    # --- the ANN read queries whose inline centroid read became
    # plans/materialize.read_centroids (same list, same results); the
    # staleness invariant requires every changed engine fn to re-enter
    # the driver window ---
    "vector_ann_erased_appended_topk",
    "vector_ann_erased_live_topk",
    "vector_ann_erased_topk",
    "vector_ann_filtered_read_topk",
    "vector_ann_ingested_topk",
    "vector_ann_ivf_appended_topk",
    "vector_ann_ivf_read_topk",
    "vector_ann_ivfpq_appended_topk",
    "vector_ann_ivfpq_read_topk",
    # --- round-6 cohort (last driver-green r6 — the rotation ladder,
    # VERDICT r11 ask #3), alphabetical within the equal-age cohort ---
    "agg_conditional",
    "agg_cube_orders",
    "agg_distinct_orders",
    "agg_grouping_sets",
    "agg_percentiles",
    "agg_rollup_lineitem",
    "agg_sequence_match",
    "text_tfidf_keywords",
    # --- displaced by the nine ANN read rows above (unchanged
    # re-confirmation rows yield their slots first): agg_sum_map_props,
    # agg_topk_heavy_hitters, agg_uniq_up_to, dedup_index_stats,
    # join_anti_customers_without_orders, join_semi_active_suppliers,
    # market_share_by_year, q3_shipping_priority,
    # q5_local_supplier_volume ---
    # --- displaced to round 13 by the 25 optimization-round re-entries
    # above (re-confirmation rows yield their slots first; these
    # round-6/7 rows carry over): set_ops_bag_semantics,
    # sort_limit_expensive_parts, vector_ann_ivf_read_topk,
    # vector_ann_ivf_topk, window_ranking_functions, window_running_spend,
    # window_topk_orders, agg_delta_sum, agg_entropy, plus the nine
    # round-6 rows that yielded their slots to this session's respelled
    # queries (funnel_conversion, retention_cohorts,
    # timeseries_anomaly_mad, window_funnel_strict_order,
    # dedup_semantic_buckets, text_selection_curve, the three
    # pipeline_leakage_safe_split variants): set_intersect_big_spenders,
    # set_except_never_urgent, scalar_string_functions,
    # scalar_regexp_functions, scalar_readable_timedelta,
    # scalar_conditional_functions, scalar_date_functions,
    # scalar_json_functions, scalar_math_functions; and the two that
    # yielded to agg_with_totals + dedup_cluster_profile (driver-count
    # removal this session): scalar_map_functions,
    # pivot_status_by_priority; and the two that yielded to
    # agg_max_intersections + join_asof_last_click (single-scan
    # respellings): q6_revenue_forecast, q10_returned_items; and
    # agg_argmax_latest_event (yielded to dedup_paragraph_exact,
    # whose per-source totals now ride npar); and agg_bit_ops (yielded
    # to q2_best_supplier_per_part's window-max respelling) ---
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, priority
    (see ``_PRIORITY``) first."""
    ordered = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    ordered.update(QUERIES)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (same table views)."""
    return dict(ORACLES)
