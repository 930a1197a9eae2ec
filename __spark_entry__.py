"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 as a smoke check;
``queries()`` / ``oracle_sql()`` publish the full named-query registry
from cqdg_etl_spark.queries (one entry per implemented operator from
SURVEY.md §2 plus the training-data operators). Queries without a
SQL-expressible semantics (e.g. LSH banding) omit the oracle entry and
get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cqdg_etl_spark.queries import REGISTRY

# Driver correctness-row ordering. The driver caps a round at 50 rows,
# so _FRONT position is the publication priority.
_FRONT = [
    # Mechanically derived at the round-11 window build: `python
    # tools/verification_state.py front` after the r10 promote (zero
    # roll-over -- all 50 r10 rows verified; fifth consecutive clean
    # window) and the datapipe19 publication (registry 238 -> 246).
    # Debt-prefix policy (tests/test_verification_state.py):
    # positions 1-8 the datapipe19 publication (never driver-verified);
    # position 9 sql_pipe_syntax_orders (the last r5-currency name);
    # positions 10-50 drain the r6 tail oldest-first (41 of 43 -- the
    # remaining 2 r6 names lead positions 51+ for roll-over headroom).
    # Positions 51+ continue the r6/r7 tail.
    "emb_matryoshka_recall",
    "ev_markov_stationary",
    "ev_user_gini",
    "pf_autocorr_daily",
    "tx_rake_keywords",
    "graph_neighbor_jaccard",
    "pf_fk_candidate_audit",
    "ev_poisson_burst_days",
    "sql_pipe_syntax_orders",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q4_order_priority",
    "q7_volume_shipping",
    "q8_market_share",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
    "q12_priority_by_returnflag",
    "q13_order_count_distribution",
    "q17_small_quantity_revenue",
    "q21_last_shipper",
    "q2_min_cost_supplier",
    "q16_supplier_part_variety",
    "q20_heavy_shippers",
    "j2_left_join_order_counts",
    "j5_full_outer_summary_merge",
    "j6_cross_domain_zero_fill",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_lsh_multiprobe",
    "ann_topk_ivf",
    "emb_label_centroids",
    "emb_quantize_int8",
    "emb_pq_codes",
    "ann_topk_pq_adc",
    "emb_hard_negatives",
    "emb_hard_negatives_banded",
    "emb_label_noise_scores",
    "tx_source_vocab_overlap",
    "tx_zipf_fit",
    "dd_paragraph_dedup",
    "ds_length_buckets",
    "tx_langid_eval_confusion",
    "mm_mp4_demux_stats",
    "ds_waterfill_budget",
    "graph_kcore_peel",
    "sql_group_by_all_lateral",
    "emb_dim_variance_topk",
    "j_semi_anti_customers",
    "a1_nest_orders_per_customer",
    "a2_collect_set_segments",
    "a3_count_distinct_customers",
    "a7_array_normalize_months",
    "a6_distinct_union_nations",
    "agg_rollup_status_priority",
    "agg_pivot_status",
    "f1_business_key_hash",
    "f3_split_explode_tokens",
    "f5_regexp_extract_priority",
    "f6_rlike_part_filter",
    "dd_exact_fingerprint_groups",
    "dd_ngram_jaccard_pairs",
    "dd_minhash_lsh_candidates",
    "dd_simhash_near_pairs",
    "dd_embedding_cosine_pairs",
    "dd_duplicate_clusters",
    "tx_tfidf_term_stats",
    "dd_minhash_verified_pairs",
    "dd_semantic_prune",
    "dd_span_dedup",
    "dd_fuzzy_name_pairs",
    "dd_ppjoin_pairs",
    "tx_novelty_score",
    "ds_softdedup_weights",
    "emb_centroid_separation",
    "dd_cross_source_leakage",
    "dd_containment_pairs",
    "ds_cluster_safe_split",
    "dd_lsh_recall_eval",
    "ev_ewma_smoothed",
    "dd_truncation_prefix_pairs",
    "tx_syllable_complexity",
    "tx_shingle_novelty",
    "ev_seasonal_outliers",
    "ds_stratified_kfold",
    "ds_weighted_sample_wor",
    "ds_rendezvous_rebalance",
    "graph_personalized_pagerank",
]


def _ordered_names() -> list[str]:
    front = [n for n in _FRONT if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(front)]
    return front + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q5 star join) on /root/testdata/sf0.001."""
    return REGISTRY["q5_local_supplier_volume"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
