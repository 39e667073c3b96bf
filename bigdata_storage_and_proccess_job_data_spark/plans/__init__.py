"""Driver-facing query plans: the registry mapping every implemented
operator (SURVEY.md §2) to a Spark callable + DuckDB oracle SQL."""

from bigdata_storage_and_proccess_job_data_spark.plans.registry import (  # noqa: F401
    QueryDef,
    all_queries,
    oracle_sql,
    queries,
    register,
    set_driver_order,
)

# Importing these modules populates the registry.
from bigdata_storage_and_proccess_job_data_spark.plans import (  # noqa: F401,E402
    analytics_queries,
    reference_queries,
    scale_queries,
    streaming_queries,
)

# The correctness driver checks exactly the first 50 entries of
# queries(); this list sets them, in this order. The remaining registered
# queries follow in import order. Every name must be registered
# (set_driver_order raises otherwise).
DRIVER_WINDOW = [
    "asof_last_purchase",
    "bh_adjust",
    "bm25_search",
    "bootstrap_ci",
    "category_percentiles",
    "classification_report",
    "classify_text",
    "clean_corpus",
    "cms_point_estimates",
    "company_stats_v1",
    "corpus_token_budget",
    "cuped_adjust",
    "decontaminated_train",
    "dedup_latest",
    "dedup_within_delay",
    "derive_salary_fields",
    "distinct_customers",
    "duplicate_ngram_spans",
    "fingerprint_docs",
    "fk_integrity_report",
    "freshness_buckets",
    "funnel_view_click_purchase",
    "hard_negatives",
    "hybrid_search",
    "impute_mean",
    "json_extract_props",
    "ks_test",
    "lang_distribution",
    "location_stats",
    "media_features_exact",
    "merge_intervals",
    "neardup_clusters",
    "pack_training_sequences",
    "pii_scrub",
    "profile_diff",
    "quality_scores",
    "semantic_dedup",
    "setop_intersect",
    "skew_distinct_spread",
    "stat_moments",
    "stratified_sample_k",
    "table_diff",
    "temperature_mixture",
    "text_stats",
    "token_repetition",
    "union_normalize",
    "value_distribution",
    "view_click_attribution",
    "weighted_take_k",
    "worktype_stats",
]

set_driver_order(DRIVER_WINDOW)
