"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``data_engineering_hs_spark`` package;
this module only adapts the query registry to the driver's shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_engineering_hs_spark.catalog import enable_table_cache
from data_engineering_hs_spark.queries import REGISTRY, load_all

load_all()

SF0001_DIR = "/root/testdata/sf0.001"


def _cached(fn):
    # The driver runs ~100 queries back-to-back against the same tiny
    # sf0.01 tables — cache each table per session instead of
    # re-scanning parquet per query. Enabled lazily on the first CALL
    # of a driver callable (not at import): tests import this module
    # to check the contract, and an import-time enable would leak the
    # cache into every later suite and break the parquet plan-shape
    # assertions (InMemoryRelation has no PushedFilters).
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        enable_table_cache()
        return fn(spark, sf_dir)

    return wrapper

# The driver verifies ~50 registry entries per round (count or
# wall-clock budget). queries()/oracle_sql() therefore iterate:
#   1. queries the driver has NEVER green-checked (no clean row in any
#      committed CORRECTNESS_r*.json) first, so cumulative driver
#      coverage reaches every query across rounds even under a hard
#      cap;
#   2. cheapest-first within each group (measured seconds below), so
#      a wall-clock budget verifies the maximum count.
# The verified set self-maintains: each round the driver commits its
# CORRECTNESS file, and the next round's ordering excludes everything
# already green. A query whose row carries a real error (driver-side
# crash, mismatch) is NOT counted verified, so it re-runs first.


def _oracle_hash(name: str) -> str | None:
    import hashlib

    text = REGISTRY[name].oracle
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


def _row_clean(row: dict) -> bool:
    """Is this driver CORRECTNESS row a clean verification?

    'no_oracle' is the driver's expected weaker rows-only check for
    golden-pinned queries — counts as clean. A row with a comparison
    mismatch (any *_match False) is NOT clean even when err is None.
    Shared with scripts_stamp_oracle_hashes so stamping and
    verification can never judge rows by different predicates.
    """
    err = row.get("err")
    return (err is None or err == "no_oracle") and not any(
        row.get(k) is False
        for k in ("rows_match", "schema_match", "hash_match")
    )


def _driver_verified() -> frozenset[str]:
    """Names whose LATEST driver row is clean AND still verifies the
    CURRENT oracle text.

    A green row only certifies the (query, oracle) pair the driver
    actually ran. ORACLE_HASHES.json records, per query, the sha256 of
    the oracle text at its last clean driver check (None for a
    rows-only ``no_oracle`` check). Any query whose current oracle
    hash differs — an oracle edited after its green row, or an oracle
    added to a query last checked rows-only — is treated as
    never-verified so the rotation re-runs it first. Regenerate the
    sidecar with ``python scripts_stamp_oracle_hashes.py`` as the
    FIRST action of a round (before any oracle edits), right after the
    driver's CORRECTNESS_r{N}.json lands.
    """
    import glob
    import json
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    # Latest round wins: a query whose MOST RECENT driver row errored
    # must re-run first next round, even if an older round was green —
    # otherwise a regression (e.g. the r4 testdata change) hides in the
    # rotation for a full round.
    latest: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            latest[name] = _row_clean(row)
    try:
        stamped = json.load(open(os.path.join(here, "ORACLE_HASHES.json")))
    except (OSError, ValueError):
        stamped = {}
    return frozenset(
        name
        for name, clean in latest.items()
        if clean
        and name in stamped
        and name in REGISTRY
        and stamped[name] == _oracle_hash(name)
    )


# Queries whose Spark-side implementation changed this round with an
# UNCHANGED oracle (a rewrite re-pinned against the same SQL): force
# to the front of the rotation even though an older driver row was
# green. Oracle-text changes no longer need this list —
# ORACLE_HASHES.json catches them automatically (see _driver_verified).
_RECHECK_THIS_ROUND = frozenset(
    {
        # r16: word_shingle_seq restructured to the single-evaluation
        # lambda-bind shape (tokens() — the full regex split — was
        # referenced k+3 times inside CodegenFallback HOFs and
        # re-evaluated per reference; binding it once measured
        # -20.6 % on d_minhash_lsh at sf0.1, values bit-identical —
        # `git show 7c6b345:scripts_ab_shingle_bind.py`). Oracles
        # unchanged; re-front
        # every shingle-path row. All 10 swept green at sf0.01.
        "d_minhash_lsh",
        "d_minhash_lsh_audit",
        "d_incremental_lsh",
        "d_dup_components_lsh",
        "t_common_ngrams",
        "t_boilerplate_ratio",
        "d_winnow_fingerprints",
        "t_repetition_stats",
        "d_decontam_overlap",
        "t_curate_training_set",
        # r16 second bind_once wave (same A/B discipline,
        # `git show 7c6b345:scripts_ab_bind_once.py`): segment_dedup
        # re-split per
        # SEGMENT per row (-46.7 % on t_segment_dedup at sf0.1),
        # lang_id per marker set (-4.2 %), quality_score 3 splits
        # -> 1 (-2.6 %).
        # Values bit-identical (asserted pre-timing); all touched
        # rows swept green at sf0.01 AND sf0.1.
        "t_segment_dedup",
        "t_langid",
        "t_quality_score",
        "t_quality_buckets",
        # r16 optimization round: _bm25_scored restructured to ONE
        # corpus tokenize pass (reduced-proxy localCheckpoint, df via
        # window) — -12.8% on s_bm25_topk at sf0.1, full-frame values
        # bit-identical (`git show 7c6b345:scripts_ab_bm25_onepass.py`
        # asserts before
        # timing); oracles unchanged; both consumers re-fronted.
        # d_minhash_lsh / t_segment_dedup (adaptive scan rebalance,
        # values compared on/off) are already in the set above.
        "s_bm25_topk",
        "s_hybrid_rrf",
        # r16 optimization round: flagship groups on the truncated
        # DATE and formats the yyyy-MM-dd string post-agg (was per
        # fact row) — -16.7% interleaved A/B, ordered output compared
        # identical at sf0.01 AND sf0.1; oracle unchanged.
        "flagship_daily_kpi",
        # r16 optimization round: same post-agg-format rewrite
        # (-11.9%, output identical at sf0.1, swept both SFs) and the
        # curate projection-before-exchange rewrite (-11.0%, ordered
        # collect identical at both SFs; t_curate_training_set is
        # already re-fronted above for the shingle bind).
        "w_open_orders_timeline",
    }
)
# (r16 open cleared all eighteen r15 entries — every one re-verified
# green by the r15 driver run; see CORRECTNESS_r15.json. Oracle-text
# edits are caught automatically by ORACLE_HASHES.json.)

_R01_VERIFIED = _driver_verified() - _RECHECK_THIS_ROUND

# Measured wall seconds per query at sf0.01 (Spark + DuckDB oracle,
# tests/time_registry.py).
_MEASURED_SEC = {
    "o_sample_deterministic": 0.07, "f_epoch_millis": 0.09,
    "o_global_topk": 0.09, "p_ilike_scan": 0.09,
    "p_substring_prefilter": 0.09, "f_array_ops": 0.1,
    "f_initcap_fullname": 0.1, "f_unpivot_stack": 0.1,
    "f_string_identity": 0.11, "j_anti_join": 0.13, "j_semi_join": 0.13,
    "a_mode": 0.14, "f_datetime_buckets": 0.14, "f_pii_scrub": 0.14,
    "f_regexp_extract": 0.14, "j_using_inner": 0.14,
    "p_compound_filter": 0.14, "p_distinct_projection": 0.14,
    "a_group_count": 0.16, "f_numeric_family": 0.16, "o_multikey_sort": 0.16,
    "u_union_distinct": 0.16, "f_decimal_money": 0.17,
    "t_quality_components": 0.17, "a_having": 0.18,
    "f_split_explode_wordcount": 0.2, "f_case_nullif": 0.21,
    "f_date_arithmetic": 0.22, "w_topk_per_group": 0.22,
    "a_approx_distinct": 0.23, "a_group_avg_cast": 0.23,
    "f_from_json_struct": 0.23, "f_map_ops": 0.24, "p_time_of_day": 0.24,
    "w_rank_lag_family": 0.24, "a_grouping_sets": 0.25,
    "u_union_schema_evolution": 0.25, "q6_forecast_revenue": 0.26,
    "t_text_stats": 0.26, "f_higher_order_arrays": 0.27,
    "t_quality_score": 0.28, "a_pivot_status_priority": 0.3,
    "j_left_join_coalesce": 0.3, "a_rollup": 0.31,
    "d_exact_dup_summary": 0.33, "dq_checks": 0.33, "f_json_props": 0.33,
    "w_analytic_extras": 0.34, "a_bool_aggs": 0.35,
    "a_conditional_multi": 0.35, "a_cube": 0.35, "j_broadcast_dim_join": 0.35,
    "s_centroids": 0.35, "w_share_of_total": 0.35, "a_approx_quantiles": 0.36,
    "w_range_frame": 0.36, "a_string_agg": 0.39, "q3_shipping_priority": 0.39,
    "t_repetition_stats": 1.06, "d_decontam_overlap": 1.36,
    "d_incremental_dedup": 1.56, "d_incremental_lsh": 3.11,
    "t_domain_mix": 1.4, "t_chunk_documents": 0.5,
    "t_pack_contexts": 0.99, "dq_profile_documents": 1.07,
    "dq_key_skew": 0.99, "a_retention_cohorts": 0.67, "a_funnel_conversion": 0.6, "st_enriched_by_nation": 1.2,
    "s_cosine_topk_arrow": 2.44,
    "q1_pricing_summary": 0.42, "q14_promo_share": 0.43,
    "q17_small_quantity_revenue": 0.43, "u_intersect_except": 0.43,
    "t_common_ngrams": 0.44, "a_stats_moments": 0.45,
    "q5_region_volume": 0.46, "o_date_spine": 0.47,
    "q13_order_count_distribution": 0.48, "t_langid": 0.49,
    "q4_priority_exists": 0.5, "q19_bracketed_revenue": 0.51,
    "j_asof_last_click": 0.53, "q15_top_supplier": 0.53,
    "log_error_counts": 0.54, "w_sessionize_batch": 0.54,
    "a_median_percentile": 0.55, "d_winnow_fingerprints": 0.55,
    "q22_idle_rich_customers": 0.56, "sql_api_staged_views": 0.6,
    "j_argmin_join_back": 0.63, "q7_nation_volume": 0.65,
    "q10_returned_items": 0.67, "q8_market_share": 0.73,
    "s_cosine_topk": 0.76, "j_range_ship_window": 0.77,
    "st_wordcount_stream": 0.81, "t_boilerplate_ratio": 0.86,
    "q18_large_orders": 0.94, "st_sliding_windows": 1.02,
    "flagship_daily_kpi": 1.11, "st_session_windows": 1.2,
    "st_tumbling_hourly": 1.24, "s_ivf_topk": 1.26,
    "m_fct_order_totals": 1.27, "d_ngram_jaccard": 1.6, "d_minhash_lsh": 1.63,
    "st_kv_counter": 2.63, "d_simhash_pairs": 3.0, "s_lsh_topk": 3.89,
    "s_embedding_near_dup": 4.54, "d_dup_components": 6.21,
    "ts_resample_interpolate": 2.5, "d_setsim_pairs": 8.0,
    "t_hash_split": 0.2, "t_token_counts": 0.25,
    "t_stratified_sample": 0.3, "d_dup_components_lsh": 3.0,
    "t_heavy_hitters": 0.4, "t_curate_training_set": 2.0,
    "q2_min_offer_supplier": 3.0, "q9_product_type_profit": 1.5,
    "q11_important_parts": 2.2, "q12_priority_by_returnflag": 1.4,
    "q16_supplier_count": 1.9, "q20_heavy_shippers": 1.5,
    "q21_waiting_suppliers": 2.7, "g_radius_join": 2.0,
    # r6 additions (measured: tests/time_registry.py --oracle)
    "c_snapshot_diff": 0.38, "c_apply_changeset": 0.66,
    "c_scd2_priority": 0.37, "t_segment_dedup": 0.47,
    "s_bm25_topk": 0.57, "t_quality_buckets": 0.49,
    "t_token_histogram": 0.34, "t_negative_pairs": 0.24,
    "dq_value_outliers": 0.52, "ts_gap_detection": 0.22,
    "o_zorder_values": 0.45, "dq_profile_embeddings": 1.0,
    "j_fuzzy_name_match": 0.8, "g_pagerank_nations": 6.0,
    "c_pit_join": 2.8, "dq_freshness": 0.4, "ts_ewma": 0.8,
    "f_variant_props": 1.7, "a_group_regression": 0.9,
    "a_market_basket": 2.5, "s_mmr_diversify": 6.0,
    "a_event_transitions": 0.5, "g_triangle_count": 2.0,
    "dq_rowcounts_all": 0.8, "w_mom_growth": 0.4,
    "d_dup_components_star": 9.0, "w_open_orders_timeline": 0.7,
    # r7 additions (new queries + audit-converted outputs, measured
    # Spark+oracle at sf0.01)
    "s_pq_topk": 7.5, "s_hybrid_rrf": 1.9, "ts_cusum_changepoints": 1.2,
    "a_attribution_models": 1.5, "m_incremental_mv": 2.1, "g_kcore": 7.3,
    "d_minhash_lsh_audit": 2.7, "g_grid_rollup": 3.1,
    "st_stream_stream_join": 4.8, "a_rfm_segments": 1.1,
    "dq_referential_integrity": 2.6, "a_rolling_distinct_hll": 1.1,
    "t_feature_hash": 1.5, "dq_quarantine_split": 1.5,
    "st_dedup_stream": 3.0,
    # r8 additions (measured Spark+oracle at sf0.01; s_mmr_diversify
    # re-measured after the driver-side greedy rewrite: 9.3 -> ~6
    # cold / 1.6 warm)
    "st_cdc_apply": 8.7, "st_update_mode": 2.5,
    "st_stream_static_join": 1.3, "g_label_propagation": 3.5,
    "a_heavy_hitters_cms": 0.8, "a_distinct_overlap_hll": 0.7,
    "a_funnel_steps": 0.8, "c_time_travel_diff": 1.2,
    "d_canonicalize_dups": 0.9,
    # r8 late additions (Spark+oracle at sf0.01; t_shuffle_shards
    # measured cold-first — warm cost is ~1 s)
    "t_shuffle_shards": 1.0, "s_semdedup": 4.6,
    # r9 additions
    "s_hier_assign": 3.0,
    # r9 second session (sweep-measured Spark+oracle at sf0.01)
    "s_ivf_adc_topk": 17.6,
    # r11 additions (sweep-measured Spark+oracle at sf0.01)
    "s_ivf_adc_store": 15.3, "s_ivf_store_append": 12.3,
    # r12 additions (sweep-measured Spark+oracle at sf0.01)
    "st_compact_ingest": 18.2,
}


def _ordered_names() -> list[str]:
    # never-driver-verified first; cheapest-first within each group;
    # unmeasured (newly added) queries at each group's tail
    return sorted(
        REGISTRY,
        key=lambda n: (n in _R01_VERIFIED, _MEASURED_SEC.get(n, 999.0), n),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _cached(REGISTRY["flagship_daily_kpi"].fn)(spark, SF0001_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator query (SURVEY.md §2)."""
    return {name: _cached(REGISTRY[name].fn) for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL oracle per query (where expressible)."""
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
