"""Regenerate PLANS.md: `.explain("formatted")` of representative queries.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from amazon_security_lake_transformation_library_spark.session import get_spark

PICKS = [
    "lag_lead_events",
    "asof_join_events",
    "asof_join_events_interval",
    "asof_join_events_multi",
    "tumbling_hourly_events",
    "q3_top_orders",
    "doc_stats",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "flagship_transcripts",
    "flagship_transcripts_hybrid",
    "flagship_transcripts_bucketed",
    "alb_parse",
    "dataset_split_events",
    "pack_sequences",
    "doc_chunks",
    "decontaminate_docs",
    "repetition_stats",
    "tfidf_top_terms",
    "scrub_pii",
    "rolling_1h_events",
    "ewma_events",
    "kmv_distinct_users",
    "merge_orders_cdc",
    "dedup_clusters",
    "grouping_sets_orders",
    "pivot_status_by_priority",
    "full_outer_daily_activity",
    "duplicate_ngram_spans",
    "label_horizon_events",
    "sample_topn_per_group",
    "importance_weights_docs",
    "psi_value_by_split",
    "target_encode_events",
    "zscore_value_by_type",
    "chat_render",
    "chat_loss_spans",
    "conv_prefix_dedup",
    "context_budget",
    "sample_weighted_docs",
    "conv_profile",
    "hot_conversations",
    "sft_pairs",
    "tool_chains",
    "decontaminate_docs_bloom",
    "conv_near_dup_minhash",
    "asof_join_events_stacked",
    "conv_profile_incremental",
    "split_temporal_events",
    "asof_join_events_forward",
    "asof_join_events_nearest",
    "preference_pairs",
    "curriculum_docs",
    "asof_join_events_skinny_iv",
    "asof_join_events_skinny_routed",
    "asof_join_events_skinny_stream_form",
    "multimodal_decode_image",
    "decontaminate_docs_bloom_forced",
    "dedup_incremental_docs",
    "semdedup_docs",
    "funnel_steps_events",
    "cohort_retention_events",
    "rolling_distinct_users",
    "rolling_distinct_kmv_users",
    "bm25_topk_docs",
    "cms_freq_users",
    "pagerank_event_graph",
    "rolling_median_value",
    "rolling_zscore_value",
    "length_bucket_batches",
    "column_profile_events",
    "scale_features_events",
    "lm_perplexity_docs",
    "tscv_folds_events",
    "hashed_features_vec_events",
    "multihot_docs",
    "resample_ffill_users",
    "calendar_features_events",
    "rolling_corr_value",
    "cusum_value_by_user",
    "doc_entropy_gate",
    "auc_value_events",
    "quantile_bin_value",
    "ks_drift_value",
    "rolling_slope_value",
    "scd2_user_state",
    "snapshot_diff_events",
    "ngram_containment_docs",
    "pmi_collocations_docs",
    "cohen_kappa_raters",
    "fleiss_kappa_items",
    "gold_labels_items",
    "turn_self_similarity",
    "tool_loop_runs",
    "ranking_metrics_docs",
    "dedup_jaccard_exact",
    "zorder_events",
    "interval_overlap_sessions",
    "embedding_covariance",
    "embedding_pca_project",
    "decontaminate_semantic",
    "select_budget_docs",
    "epoch_shard_docs",
    "quality_linear_score",
    "triangle_counts_docs",
    "twa_value_by_user",
    "assoc_rules_events",
    "dq_checks_orders",
    "ann_srp_topk",
    "collapse_bursts_events",
    "bootstrap_sample_docs",
]

HEADER = """# PLANS — physical plans of representative queries (round 5)

Generated by `.explain('formatted')` at sf0.001; regenerate with
`python tools/dump_plans.py`. What to look for: `PushedFilters` /
`ReadSchema` on every FileScan (pushdown + pruning), one Exchange
per window block, `BroadcastHashJoin` on dim joins, no
`BatchEvalPython` in JVM-only pipelines.
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plans", master="local[8]")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    sections = [HEADER]
    df = entrymod.entry(spark)
    sections.append(
        "## entry_flagship\n\n```\n"
        + df._jdf.queryExecution().explainString(mode).strip()
        + "\n```\n"
    )
    qs = entrymod.queries()
    for name in PICKS:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode).strip()
        sections.append(f"## {name}\n\n```\n{plan}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(sections))
    print(f"PLANS.md: {len(sections) - 1} plans")


if __name__ == "__main__":
    main()
