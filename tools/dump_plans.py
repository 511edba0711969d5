"""Dump formatted physical plans for representative queries → PLANS.md.

Evidence artifact for plan-quality review: shows pushdowns, join
strategies, WindowGroupLimit, TakeOrderedAndProject, and partial
aggregation on the queries where those properties carry the scale story.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

REPRESENTATIVE = [
    "filter_project",          # pushdown + pruning
    "feed_topk_per_user",      # flagship: equi-joins + WindowGroupLimit
    "join_multiway_region_revenue",  # star join: broadcasts vs shuffle
    "sort_limit_topk",         # TakeOrderedAndProject
    "dedup_exact_docs",        # digest-keyed shuffle
    "asof_last_purchase",      # union + single window shuffle
    "range_join_user_pairs",   # banded equi-join
    "similarity_ivf_topk",     # broadcast quantizer + probed list
    "dedup_incremental_new_docs",  # digest-keyed anti join
    "similarity_quantized_topk",   # int8 codes, broadcast-scan top-k
    "cdc_canonical_activities",  # single-pass parse + demux
    "similarity_ivf_kmeans_topk",  # k-means quantizer: broadcast centroids
    "similarity_rerank_topk",  # two-stage: int8 pool then fp32 re-rank
    "pipeline_decontaminate",  # broadcast gram semi-join
    "pipeline_shuffle_shards",  # hash shards, no global sort
    "cdc_metadata_map_stats",  # single-scan map explode rollup
    "text_repetition_scores",  # per-row TTR + linear 2-gram mode
    "sketch_top_users",        # CMS: bounded-width shuffle + candidate probe
    "sketch_bloom_prefilter",  # broadcast bit set, map-side membership
    "feed_ranked_personalized",  # author enrichment before follower fan-out
    "graph_triangle_count",    # rank-ordered wedge join + closing semi-join
    "similarity_matryoshka_topk",  # prefix-dim pool then full-dim re-rank
    "graph_pagerank",          # Pregel-on-dataframes iteration shape
    "text_hashed_features",    # vocabulary-free hashed count vectors
    "events_anomaly_zscore",   # broadcast stats + scan-stage scoring
    "pipeline_reservoir_sample",  # WindowGroupLimit per-stratum top-k
    "join_salted_skew",        # (key, salt) equi-join dissolving hot keys
    "agg_argmax_funcs",        # single-agg distributed argmax
    "pivot_event_type_revenue",  # explicit-values pivot = conditional agg
    "text_bpe_merge_pairs",    # bounded-key word count + TakeOrdered
    "sketch_union_daily_to_weekly",  # sketch-merge rollup, two levels one plan
    "cdc_timetravel_lookup",   # as-of union+window: ONE shuffle, no join
    "join_null_aware_anti",    # null-aware BroadcastHashJoin LeftAnti
    "pipeline_pii_scrub",      # pure scan-stage regex projection, no shuffle
    "events_daily_spine",      # broadcast bounds + generated spine join
    "dedup_substring_windows",  # window-hash explode + single-shuffle rollup
    "dedup_semantic",          # Lloyd assignment projection + K-row broadcast
    "pipeline_dsir_weights",   # 64-row broadcast model join-back
    "text_zipf_slope",         # WindowGroupLimit head + closed-form OLS agg
    "asof_nearest_purchase",   # two frames over ONE union+sort shuffle
    "text_bm25_topk",          # pruned token scan + broadcast df/stats
    "text_inverted_index",     # window-limited postings head, no full collect
    "sql_pipe_pricing",        # pipe syntax lowers to the HAVING-form plan
    "cdc_merge_into_state",    # full-outer hash merge + in-plan guard window
    "text_tfidf_cosine_pairs",  # df-capped postings self-join + cached weights
    "events_moment_profile",   # exact bigint power sums, one partial-agged shuffle
    "events_daily_locf",       # generated spine + one ignorenulls window fill
    "feed_page_parameterized",  # bound literals fold to the literal-page plan
    "window_distribution_ranks",  # ntile/percent_rank under a total order
    "similarity_pq_topk",      # subspace codebooks + CASE-literal ADC lookups
    "cdc_lifecycle_violations",  # one key shuffle shared by seq/MIN/LAG
    "text_vocab_oov_rate",     # TakeOrdered vocab cut + broadcast LEFT probe
    "source_partitioned_pruned",  # PartitionFilters: directory pruning
    "pipeline_curriculum_order",  # band offsets broadcast, no global sort
    "tpch_q18_large_orders",   # HAVING survivors broadcast, ONE lineitem scan
    "tpch_q17_small_quantity_revenue",  # decorrelated avg on one window exchange
    "tpch_q21_waiting_suppliers",  # double-EXISTS → two windows, one exchange
    "sketch_heavy_hitters_bounded",  # MapInPandas k-counter summaries + merge
    "cdc_incremental_agg_maintenance",  # delta rollup ⊕ stored view full-outer
    "text_phrase_search",      # positional pairs + top-1 + broadcast probe
    "pipeline_weighted_sample",  # in-scan ticket array + TakeOrderedAndProject
    "events_survival_km",      # per-user rollups + study-days-bounded window
    "tpch_q4_priority_exists",  # EXISTS → left-semi with date residual
    "tpch_q13_customer_distribution",  # filter inside outer join, zero bucket kept
    "tpch_q19_disjunctive_revenue",  # OR split: per-scan pushed disjunctions
    "tpch_q22_sales_opportunity",  # anti join + 1-row integer-avg broadcast
    "similarity_lsh_recall",   # union of per-table (tbl,bucket) hash joins
    "pipeline_k_anonymity",    # QI rollup → summary: two partial-agged hash aggs
    "tpch_q6_forecast_revenue",  # pure pushdown: 3 PushedFilters, 4-col schema
    "tpch_q2_min_cost_supplier",  # correlated MIN → one window, TakeOrdered
    "tpch_q16_supplier_diversity",  # distinct pairs + NOT-IN-anti + count distinct
    "events_activity_bitmap",  # BIT_OR masks: one exchange, zero joins
    "pipeline_token_budget_epochs",  # checkpointed rollup + prefix-sum window solve
    "events_incident_overlap_join",  # bucket+residual interval join
    "events_mahalanobis_outliers",  # 1-row co-moment broadcast + scan-side score
    "events_sequence_pattern",  # letter-fold + scan-side regex, zero joins
    "graph_personalized_pagerank",  # seed-restart Pregel-on-dataframes loop
    "dedup_containment_pairs",  # bounded exact arm of the containment family
    "cdc_snapshot_diff",       # dual as-of snapshots: one scan, one groupBy
    "similarity_range_search",  # broadcast probes, scan-side threshold filter
    "events_max_concurrent_sessions",  # two-level sweep-line prefix sum
    "text_dup_ngram_fraction",  # md5-keyed shingle counts, exchange-reusing join
    "source_txn_log_checkpoint",  # checkpoint read: scan-only data plan
    "source_txn_log_deletes",  # DV merge-on-read: broadcast anti-join
    "source_txn_log_writer_roundtrip",  # engine-written log: scan-only read
    "source_txn_log_optimize_cluster",  # post-OPTIMIZE stats-pruned scan
    "source_txn_log_optimize_zorder",  # 2-D Morton layout: hour-dim pruning
    "source_txn_log_cdf",  # change feed: per-version row-identity joins
    "source_txn_log_timestamp_travel",  # ts->version resolve + bounded replay
    "dedup_substring_rewrite",  # chunk tile: one hash window + per-doc rollup
    "source_txn_log_shallow_clone",  # mixed-root scan over absolute-path adds
    "source_txn_log_partition_values",  # log-level pruning: one-file scan
    "source_txn_log_cdf_ivm",  # MV base ⊕ signed feed delta, no HEAD rescan
    "text_pmi_collocations",  # integer-ranked PMI: two explodes + broadcasts
    "events_holt_winters_seasonal",  # vector-state fold, one rollup exchange
    "multimodal_image_png_stats",  # PNG decode: narrow Arrow stage, no shuffle
    "text_html_strip",  # envelope in scan projection + one Arrow clean pass
    "events_ols_value_hour_dow",  # exact co-moment agg + closed-form SELECT
    "events_logistic_purchase_hour",  # 24-row exact stats + Newton fold
    "source_txn_log_row_tracking",  # metadata row_index ids, no stored col
    "source_txn_log_generated_columns",  # stored generated cols, one agg
    "events_poisson_daily_purchases",  # 7-row exact stats + Newton fold
    "source_binaryfile_media",  # binaryFile scan: path-glob, no shuffle
    "source_json_gzip_roundtrip",  # codec'd JSONL scan + fidelity agg
    "source_json_bzip2_roundtrip",  # SPLITTABLE codec: multi-split scan
    "multimodal_image_png16_stats",  # 16-bit decode: narrow Arrow stage
    "multimodal_image_png_trns_stats",  # colour-key expansion, no shuffle
    "text_bpe_learn_iterations",  # k chained rewrites in ONE final pass
    "source_txn_log_identity_columns",  # hwm-allocated ids, scan + 2-grp agg
    "pipeline_gopher_rules",  # rule gate: one codegen projection pass
    "events_dynamic_session_stats",  # per-event gap session merge
    "cdc_scd2_pointintime_join",  # as-of union+window: one exchange, no range join
    "source_partitioned_dpp",  # dynamicpruning subquery on the fact scan
    "source_json_zstd_roundtrip",  # Arrow decompress-only stage + JVM from_json
    "pipeline_observed_metrics",  # CollectMetrics riding the keep-filter pass
    "pipeline_ccnet_buckets",  # band-offset tertile rank, no global window
    "text_char_entropy",  # in-row entropy fold: zero shuffle, zero explode
    "source_avro_nested_roundtrip",  # envelope unwrap: one Arrow stage
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as em
    from user_feed_cdc_spark.session import get_spark

    spark = get_spark("plans")
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    qs = em.queries()
    out = io.StringIO()
    out.write(
        "# PLANS.md — formatted physical plans (generated by "
        "tools/dump_plans.py)\n\nRepresentative queries chosen for the "
        "plan properties that carry the 100 TB story; regenerate after "
        "plan-affecting changes. See SCALE.md for the full audit.\n"
    )
    for name in REPRESENTATIVE:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.write(f"\n## {name}\n\n```\n{plan}\n```\n")
    with open(REPO / "PLANS.md", "w") as f:
        f.write(out.getvalue())
    print(f"wrote PLANS.md ({len(REPRESENTATIVE)} plans)")


if __name__ == "__main__":
    main()
