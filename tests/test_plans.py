"""Physical-plan regression gates (the 100 TB posture, enforced):
no query may silently plan a nested-loop/cartesian join, and the
flagship scan paths must keep their pushdowns. A plan that is correct
but quadratic passes every value check and then dies at scale — this
test is where that regression gets caught instead.
"""

from __future__ import annotations

import pytest

# Queries whose CONTRACT is a bounded all-pairs comparison (exact
# ground-truth baselines for the bucketed paths) or a broadcast of a
# provably tiny build side (1-row query vector / ≤|labels| centroids).
# Everything else must plan hash/sort-merge joins only.
NESTED_LOOP_WHITELIST = {
    "dedup_ngram_jaccard",        # doc_id < 200 bounded exact baseline
    "text_edit_distance_pairs",   # doc_id < 30 bounded exact baseline
    "events_value_histogram",     # 1-row broadcast min/max bounds
    "dedup_embedding_cosine",     # vec_id < 400 bounded exact baseline
    "similarity_cosine_topk",     # 1-row broadcast query vector
    "similarity_quantized_topk",  # 1-row broadcast quantized query vector
    "similarity_binary_hamming_topk",  # 1-row broadcast sign-bit query
    "similarity_rerank_topk",     # 1-row broadcast query (both stages)
    "similarity_matryoshka_topk",  # 1-row broadcast query (both stages)
    "events_rfm_segments",        # 1-row broadcast median thresholds
    "sketch_distinct_overlap_bounded",  # 1-row sketch-aggregate crossJoins
    "similarity_knn_join",        # ≤20-row broadcast query set (bounded Q)
    "similarity_ivf_topk",        # ≤|labels| broadcast centroid set
    "similarity_ivf_kmeans_topk",  # K=8 broadcast centroids / ≤nprobe probe rows
    "text_tfidf_top_terms",       # 1-row broadcast corpus-count scalar
    "text_unigram_surprisal",     # 1-row broadcast total-token scalar
    "pipeline_source_mixture",    # 1-row broadcast mixture-floor scalar
    "pipeline_dsir_weights",      # 1-row broadcast corpus-total scalars
    "text_bm25_topk",             # 1-row broadcast corpus-stats scalar
    "events_type_cooccurrence",   # 1-row broadcast distinct-user total
    "text_tfidf_cosine_pairs",    # 1-row broadcast corpus-count scalar
    "events_daily_locf",          # ≤20-user dim × 1-row day-span spine
    "events_dow_seasonality",     # 1-row broadcast corpus-mean scalar
    "text_js_divergence_sources",  # |sources| × 32-row vocab grid build
    "pipeline_data_card",         # 1-row summary/entropy/top-source joins
    "events_revenue_concentration",  # 1-row stats/decile broadcast joins
    "events_survival_km",         # 1-row broadcast study-cutoff scalar
    "pipeline_temperature_mixture",  # 1-row broadcast normalizer totals
    "sketch_heavy_hitters_bounded",  # 1-row stream-total/reconcile joins
    "cdc_incremental_agg_maintenance",  # 1-row broadcast split-point scalar
    "events_cuped_adjustment",    # 1-row broadcast period-split scalar
    "tpch_q15_top_supplier",      # 1-row broadcast max-revenue scalar
    "tpch_q22_sales_opportunity",  # 1-row broadcast avg-balance scalar
    "similarity_lsh_recall",      # 8-row broadcast query set (exact arm)
    "dedup_minhash_quality",      # doc_id < 200 bounded truth arm + 1-row counts
    "pipeline_ccnet_buckets",     # 1-row broadcast vocab-size + doc-count scalars
    "similarity_hard_negatives",  # 8-row broadcast anchor set
    "dedup_simhash_quality",      # doc_id < 300 bounded truth arm + 1-row counts
    "tpch_q11_important_parts",   # 1-row broadcast total-value scalar
    "pipeline_token_budget_epochs",  # 1-row broadcast budget/lambda scalars
    "similarity_mmr_topk",        # 1-row query + 12-row cached pool pairs
    "events_psi_drift",           # 1-row broadcast period-total scalars
    "events_theil_sen_trend",     # |days|≤calendar bounded pair frame + 1-row OLS
    "events_mahalanobis_outliers",  # 1-row broadcast co-moment scalars
    "events_cusum_changepoint",   # 1-row baseline/peak broadcast scalars
    "events_autocorrelation",     # 1-row min-date broadcast anchor
    "dedup_containment_pairs",    # doc_id < 250 bounded exact baseline
    "similarity_range_search",    # 4-row broadcast probe set (bounded by contract)
    "cdc_snapshot_diff",          # 1-row broadcast T1/T2 cutoff scalars
    "text_bpe_apply_merges",      # 1-row broadcast learned-merge table
}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_unbounded_nested_loop_joins(spark, sf_dir):
    import __spark_entry__ as em

    # stale whitelist entries would silently pre-authorize future
    # queries under a dead name
    assert NESTED_LOOP_WHITELIST <= set(em.queries()), (
        NESTED_LOOP_WHITELIST - set(em.queries())
    )
    offenders = {}
    for name, fn in em.queries().items():
        plan = _executed_plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in NESTED_LOOP_WHITELIST:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, f"quadratic join plans crept in: {offenders}"


def test_flagship_plan_shape(spark, sf_dir):
    """entry(): equi-joins only, WindowGroupLimit below the top-k window."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["feed_topk_per_user"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # per-key limit pushed below the shuffle


def test_scan_pushdown_and_pruning(spark, sf_dir):
    """filter_project: predicates reach the parquet scan and the schema is
    pruned to the referenced columns (at 100 TB: read 6 columns, not 11)."""
    import __spark_entry__ as em

    saved = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = _executed_plan(em.queries()["filter_project"](spark, sf_dir))
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.maxMetadataStringLength")
        else:
            spark.conf.set("spark.sql.maxMetadataStringLength", saved)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_discount" in plan
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema  # unreferenced → pruned


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with NO Exchange on either side — the write-once,
    join-many layout for repeated fact⋈dim joins at scale."""
    from pyspark.sql import functions as F

    from user_feed_cdc_spark.sources.tables import load_table, write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    write_bucketed(orders, "orders_b", "o_custkey", 8, sort_key="o_custkey")
    write_bucketed(customer, "customer_b", "c_custkey", 8, sort_key="c_custkey")
    try:
        # force the join strategy decision to be about shuffling, not size
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(
            spark.table("customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # sanity: result is still correct
        assert joined.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_aqe_splits_skewed_join(spark):
    """The celebrity-user problem (SURVEY.md §7.3.6): one hot key holding
    ~98% of the rows must be SPLIT by AQE's runtime skew-join handling,
    not serialized onto one reducer. Thresholds are lowered so toy data
    trips the same code path production data would; the finalized
    adaptive plan must carry the skew=true marker on the join."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        hot = spark.range(0, 200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        )
        cold = spark.range(0, 5_000).select(
            (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(0, 101).select(F.col("id").alias("k"), F.lit("x").alias("t"))
        j = hot.union(cold).join(right, "k").select(F.sum("v").alias("s"))
        j.collect()  # finalize the adaptive plan on THIS DataFrame
        plan = _executed_plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_global_topk_never_full_sorts(spark, sf_dir):
    """sort_limit_topk must plan TakeOrderedAndProject (per-task k-heaps),
    not a global Sort + Limit."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["sort_limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """pipeline_decontaminate: the contamination probe must be a
    BROADCAST semi-join on the gram (benchmark gram sets are tiny at any
    scale) — a shuffled join here would move the training corpus's whole
    exploded gram stream."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["pipeline_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_decontaminate_broadcasts_eval_bands(spark, sf_dir):
    """pipeline_decontaminate_fuzzy: the minhash collision probe must be
    a BROADCAST semi-join on (band_idx, band_val) — a shuffled join here
    would move the training corpus's whole band stream."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["pipeline_decontaminate_fuzzy"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_shards_partial_aggregates(spark, sf_dir):
    """pipeline_shuffle_shards: the shard rollup must map-side combine
    (partial_count/partial_sum before the exchange) — shuffle volume is
    shards × counters, not rows."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["pipeline_shuffle_shards"](spark, sf_dir))
    assert "partial_count" in plan and "partial_sum" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_metadata_map_stats_single_scan(spark, sf_dir):
    """cdc_metadata_map_stats: one events scan, no join — the map
    construction, explode, and rollup all ride the scan stage."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["cdc_metadata_map_stats"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert j not in plan, j


def test_kafka_normalize_plan_is_narrow(spark):
    """S1 plan shape: kafka_value_frame → normalize_events over a
    kafka-schema-shaped frame must stay a single narrow pipeline — no
    Exchange, no join. The live Kafka path differs only in the source
    node, so a shuffle creeping into the normalize stage would break
    source-parallelism there identically (no broker exists in CI; the
    value-contract equivalence is pinned by test_cdc_pipeline)."""
    from pyspark.sql import functions as F, types as T

    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        kafka_value_frame,
        normalize_events,
    )

    kafka_schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("timestampType", T.IntegerType()),
        ]
    )
    records = spark.createDataFrame(
        [(None, b'{"id": 1}', "postgres.public.likes", 0, 0, None, 0)],
        kafka_schema,
    )
    plan = _executed_plan(normalize_events(kafka_value_frame(records)))
    assert "Exchange" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert j not in plan, j


def test_scd2_history_single_window(spark, sf_dir):
    """cdc_scd2_history: both LEADs and the interval close must ride ONE
    Window node over one shuffle — a second Exchange or Window would mean
    the changelog is sorted twice per key."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["cdc_scd2_history"](spark, sf_dir))
    # AQE toString can print the tree twice (final + "== Initial Plan ==")
    # once a plan materializes; counting the head section only keeps the
    # gate from double-counting across Spark versions/print modes.
    head = plan.split("== Initial Plan ==")[0]
    assert head.count("Window") - head.count("WindowGroupLimit") <= 1
    assert head.count("Exchange hashpartitioning") == 1


def _assert_native_offset_topk(plan: str, limit: int, offset: int) -> None:
    """The two OFFSET-pagination paths plan as ONE native top-k with an
    offset: a TakeOrderedAndProject whose heap is bounded to offset+limit
    rows and which drops the first `offset` itself — so no Window slice
    and no single-partition Exchange/Sort sits above the bounded set,
    and a future edit can't unbound the page into a global sort."""
    head = plan.split("== Initial Plan ==")[0]
    topk = [ln for ln in head.splitlines() if "TakeOrderedAndProject" in ln]
    assert len(topk) == 1, head
    assert f"TakeOrderedAndProject(limit={offset + limit}, offset={offset}," in topk[0], head
    assert "Window [" not in head, head
    assert "Exchange SinglePartition" not in head, head


def test_offset_page_is_one_native_topk(spark, sf_dir):
    """feed_single_user_page_offset (limit 100, offset 100) is one
    TakeOrderedAndProject(limit=200, offset=100) over the semi-join."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["feed_single_user_page_offset"](spark, sf_dir)
    )
    _assert_native_offset_topk(plan, limit=100, offset=100)


def test_feed_table_page_is_one_native_topk(spark):
    """_page_from_frame (the feed-table/cache read path): same contract
    on the streaming-materialized layout."""
    from pyspark.sql import types as T

    from user_feed_cdc_spark.streaming.cdc_pipeline import _page_from_frame

    schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("user_bucket", T.LongType()),
            T.StructField("event_timestamp", T.TimestampType()),
            T.StructField("_batch_id", T.LongType()),
            T.StructField("_seq", T.LongType()),
        ]
    )
    feed = spark.createDataFrame([], schema)
    plan = _executed_plan(_page_from_frame(feed, "7", limit=10, offset=10, n_user_buckets=32))
    _assert_native_offset_topk(plan, limit=10, offset=10)


def test_repetition_scores_column_pruning(spark, sf_dir):
    """text_repetition_scores reads only (doc_id, text) — the quality
    signals must not drag the full documents schema through the scan."""
    import __spark_entry__ as em

    saved = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = _executed_plan(
            em.queries()["text_repetition_scores"](spark, sf_dir)
        )
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.maxMetadataStringLength")
        else:
            spark.conf.set("spark.sql.maxMetadataStringLength", saved)
    read_schemas = [
        line.split("ReadSchema:", 1)[1]
        for line in plan.splitlines()
        if "ReadSchema:" in line
    ]
    assert read_schemas
    for rs in read_schemas:
        assert "lang" not in rs and "source" not in rs  # unreferenced → pruned


def test_timetravel_single_shuffle(spark, sf_dir):
    """cdc_timetravel_lookup: the as-of union+window form must ride ONE
    key shuffle — a second Exchange or any join would mean the lookup
    degenerated into the quadratic probe x version-chain shape the
    oracle uses."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["cdc_timetravel_lookup"](spark, sf_dir))
    head = plan.split("== Initial Plan ==")[0]
    assert head.count("Exchange hashpartitioning") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert j not in head, j


def test_reservoir_sample_group_limit(spark, sf_dir):
    """pipeline_reservoir_sample: the per-stratum top-k must plan
    WindowGroupLimit (map-side k-per-group before the exchange) over a
    single stratum shuffle."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["pipeline_reservoir_sample"](spark, sf_dir)
    )
    head = plan.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in head
    assert head.count("Exchange hashpartitioning") == 1


def test_null_aware_anti_join_planned(spark, sf_dir):
    """join_null_aware_anti: the raw NOT IN must plan Spark's
    null-aware anti join (BroadcastHashJoin LeftAnti with the
    isNullAwareAntiJoin flag) — a fallback to BNL here would be the
    per-probe-scan regression this entry exists to pin."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["join_null_aware_anti"](spark, sf_dir))
    assert "LeftAnti, BuildRight, true" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Fact table partitioned by day joined to a filtered dim must plan
    dynamic partition pruning (the runtime subquery filter on the scan's
    partition column) — at 100 TB this is what turns a full-fact scan
    into reading only the dim-selected partitions."""
    from pyspark.sql import functions as F

    from user_feed_cdc_spark.sources.tables import load_table

    fact_path = str(tmp_path / "events_by_day")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    ev.write.partitionBy("day").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    # DPP requires a SELECTIVE filter on the dim side (a bare limit
    # doesn't qualify as a pruning-worthy build) and a broadcastable dim
    dim = ev.select("day").distinct().filter(F.dayofmonth("day") <= 3)
    j = fact.join(dim, "day").groupBy("day").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_training_funnel_monotone(spark, sf_dir):
    """pipeline_training_funnel: stages only ever shrink the corpus, and
    the five stages arrive in order."""
    import __spark_entry__ as em

    rows = sorted(
        em.queries()["pipeline_training_funnel"](spark, sf_dir).collect(),
        key=lambda r: r.stage_idx,
    )
    assert [r.stage for r in rows] == [
        "raw", "quality", "exact_dedup", "near_dup", "decontaminated",
    ]
    counts = [r.n_docs for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    assert counts[0] > 0


def test_zipf_slope_group_limit(spark, sf_dir):
    """text_zipf_slope: the per-source top-20 rank cut must plan
    WindowGroupLimit so the exchange carries ~20 rows per source, not
    every (source, token) count."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["text_zipf_slope"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_semantic_dedup_broadcasts_representatives(spark, sf_dir):
    """dedup_semantic: the representative-vector join must BROADCAST
    (K rows) — a shuffled join would move every vector a second time
    after the Lloyd scan."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["dedup_semantic"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dsir_weights_broadcast_model(spark, sf_dir):
    """pipeline_dsir_weights: the 64-row log-ratio model joins back as
    a broadcast; the only BNL join is the 1-row totals scalar."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["pipeline_dsir_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_substring_windows_single_hash_shuffle_feeds_rollup(spark, sf_dir):
    """dedup_substring_windows: first-owner is a window MIN over the
    hash partition — the same exchange then feeds the per-doc rollup;
    the plan must not contain a second join against a firsts table."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["dedup_substring_windows"](spark, sf_dir))
    # one Window (min over wh), and the only join is the final left
    # join back to the doc list
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 1
    assert "CartesianProduct" not in plan


def test_partitioned_layout_prunes(spark, sf_dir):
    """source_partitioned_pruned: the event_type predicate must resolve
    as a PARTITION filter (directory pruning — zero IO for the other
    types), not a post-scan data filter."""
    import __spark_entry__ as em

    saved = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = _executed_plan(
            em.queries()["source_partitioned_pruned"](spark, sf_dir)
        )
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.maxMetadataStringLength")
        else:
            spark.conf.set("spark.sql.maxMetadataStringLength", saved)
    assert "PartitionFilters: [" in plan
    assert "event_type" in plan.split("PartitionFilters:", 1)[1].splitlines()[0]


def test_merge_into_plan_shape(spark, sf_dir):
    """cdc_merge_into_state: the merge core must be a HASH full-outer
    join on the key (SortMergeJoin FullOuter — never a nested loop),
    and the ambiguity-guard window must NOT add an Exchange beyond the
    key partitionings the join already needs: guard, dedup windows,
    and join all hash on `key`, so the plan carries exactly the
    per-side key exchanges."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["cdc_merge_into_state"](spark, sf_dir))
    head = plan.split("== Initial Plan ==")[0]
    assert "FullOuter" in head
    assert "BroadcastNestedLoopJoin" not in head
    assert "CartesianProduct" not in head
    # one exchange per side (base / changes), both on the key; the
    # guard + latest-per-key windows and the join reuse them
    assert head.count("Exchange hashpartitioning") <= 2, head.count(
        "Exchange hashpartitioning"
    )


def test_sparse_cosine_pairs_topk_and_hash_joins(spark, sf_dir):
    """text_tfidf_cosine_pairs: the postings self-join must be a HASH
    join keyed on the term (the Bayardo shape) with the global top-k
    closing as TakeOrderedAndProject — a sort-based close or a
    nested-loop pair join would be the quadratic/dense regression the
    df cap exists to prevent."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["text_tfidf_cosine_pairs"](spark, sf_dir))
    head = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in head
    assert "CartesianProduct" not in head
    # the weight frame feeds 4 branches (postings a/b + norms na/nb):
    # it must come from the persisted cache in each (computed ONCE),
    # and the only nested-loop is the 1-row corpus-count scalar inside
    # that cached build — the plan string echoes it once per cache scan
    n_cache = head.count("InMemoryTableScan")
    assert n_cache == 4, n_cache
    assert head.count("BroadcastNestedLoopJoin") <= n_cache


def test_moment_profile_single_shuffle(spark, sf_dir):
    """events_moment_profile: the exact power sums must ride ONE
    partial-agged shuffle on event_type — a second exchange would mean
    the moments stopped merging map-side (the property that makes them
    exact at any scale)."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["events_moment_profile"](spark, sf_dir))
    head = plan.split("== Initial Plan ==")[0]
    assert head.count("Exchange hashpartitioning") == 1
    assert "partial" in head.lower()


def test_locf_single_window_shuffle(spark, sf_dir):
    """events_daily_locf: the forward-fill must be ONE window pass over
    the user-partitioned spine — a self-join or a second window
    exchange would be the gap-fill anti-pattern (join per gap)."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["events_daily_locf"](spark, sf_dir))
    head = plan.split("== Initial Plan ==")[0]
    assert "Window" in head
    assert "SortMergeJoin" not in head or "LeftOuter" in head


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Runtime bloom-filter join pruning (Spark's InjectRuntimeFilter):
    when a shuffle join's build side is selectively filtered, the
    optimizer plants a bloom_filter_agg subquery on it and a
    might_contain() pre-filter on the probe side — at 100 TB the fact
    scan drops non-joining rows BEFORE the exchange, the engine-level
    analogue of the broadcast semi-join probes the decontamination
    entries hand-build. Size thresholds are lowered so toy data walks
    the production code path (application side must normally look
    ~10 GB+); the pinned shape: bloom built on the dim's join key,
    might_contain wrapping the fact's key upstream of the join."""
    from pyspark.sql import functions as F

    from user_feed_cdc_spark.sources.tables import load_table

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        fact = load_table(spark, sf_dir, "lineitem")
        dim = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 1)
        j = (
            fact.join(dim, fact.l_partkey == dim.p_partkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = _executed_plan(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # the probe-side filter must sit on the FACT key
        assert "might_contain" in plan and "l_partkey" in plan.split(
            "might_contain", 1
        )[1][:120]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parameterized_feed_keeps_plan_shape(spark, sf_dir):
    """feed_page_parameterized: binding :uid/:page/IDENTIFIER() must
    fold to the SAME physical shape as the literal feed page —
    broadcast semi-join + TakeOrderedAndProject. A parameterization
    layer that blocked constant folding would turn every feed read
    into an unpruned scan."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["feed_page_parameterized"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q18_single_lineitem_scan_and_broadcasts(spark, sf_dir):
    """tpch_q18_large_orders: the HAVING survivor frame carries the
    quantity sum, so lineitem is scanned ONCE (classic Q18 scans it
    twice), and the tiny survivor set reaches orders and customer as
    broadcast probes — the fact tables never shuffle. Top-100 closes
    with TakeOrderedAndProject, not a global sort."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["tpch_q18_large_orders"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q17_brand_filter_pushed_and_broadcast(spark, sf_dir):
    """tpch_q17_small_quantity_revenue: the brand predicate reaches the
    part scan (not a post-scan filter); lineitem is scanned ONCE with
    the part keys arriving as a broadcast probe, and the per-part
    (sum, count) ride a single window exchange instead of an
    agg-plus-rejoin that would evaluate the filtered subtree twice."""
    import __spark_entry__ as em

    saved = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = _executed_plan(
            em.queries()["tpch_q17_small_quantity_revenue"](spark, sf_dir)
        )
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.maxMetadataStringLength")
        else:
            spark.conf.set("spark.sql.maxMetadataStringLength", saved)
    assert "EqualTo(p_brand,Brand#23)" in plan
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_heavy_hitters_sketch_side_is_mapinpandas(spark, sf_dir):
    """sketch_heavy_hitters_bounded: the sketch path is per-partition
    MapInPandas summaries (k rows shuffle per partition), and the
    post-summary merge is a plain hash aggregate — no sort, no join on
    the raw stream side."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["sketch_heavy_hitters_bounded"](spark, sf_dir)
    )
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan


def test_ivm_maintenance_never_rejoins_base_rows(spark, sf_dir):
    """cdc_incremental_agg_maintenance: the maintenance side must be a
    full-outer merge of two AGGREGATES (stored view ⊕ delta rollup) —
    a join of raw base rows against raw delta rows would be the full
    rescan IVM exists to avoid. The full-outer join therefore sits
    ABOVE both HashAggregates in the plan, never between scans."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["cdc_incremental_agg_maintenance"](spark, sf_dir)
    )
    assert "FullOuter" in plan
    join_pos = plan.find("FullOuter")
    # every scan feeding the merge appears BELOW the join node text
    assert "events.parquet" not in plan[:join_pos].split("HashAggregate")[0]


def test_phrase_search_topk_and_broadcast_probe(spark, sf_dir):
    """text_phrase_search: top-phrase selection is TakeOrderedAndProject
    (never a global sort of the bigram rollup) and the match step is a
    broadcast probe of the pair frame — the raw text is never joined."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["text_phrase_search"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q21_single_lineitem_scan_one_window_exchange(spark, sf_dir):
    """tpch_q21_waiting_suppliers: the decorrelated form must scan
    lineitem ONCE (the correlated EXISTS/NOT-EXISTS form scans it
    three times), share one hash exchange on l_orderkey for both
    existential window counts, broadcast the supplier dim, and close
    with TakeOrderedAndProject."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["tpch_q21_waiting_suppliers"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_entry_plans_no_exchange(spark, sf_dir):
    """source_bucketed_join: the registered entry itself (not just the
    synthetic pytest join) must sort-merge join the bucketed tables
    with no Exchange below the join — bucketing carries the
    co-location, not a broadcast."""
    import __spark_entry__ as em

    df = em.queries()["source_bucketed_join"](spark, sf_dir)
    plan = _executed_plan(df)
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning" not in join_part
    assert "BroadcastHashJoin" not in plan


def test_tpch_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    """tpch_q4_priority_exists: the EXISTS must plan as ONE left-semi
    hash join on l_orderkey with the late-shipment comparison as a
    join residual — never a per-order subquery, never an inner join
    plus distinct (which would double-count multi-late-line orders).
    The orders date window reaches the scan as pushed filters."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["tpch_q4_priority_exists"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Distinct" not in plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_tpch_q19_disjunction_pushed_to_both_scans(spark, sf_dir):
    """tpch_q19_disjunctive_revenue: from the single declarative OR
    filter, Catalyst must extract the part-only disjunction (brand +
    size blocks) and push it INTO the part scan, and likewise push the
    lineitem-only quantity disjunction to the lineitem scan — the
    mixed residual stays above the broadcast join. Without the
    decomposition both scans read everything."""
    import __spark_entry__ as em

    saved = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = _executed_plan(
            em.queries()["tpch_q19_disjunctive_revenue"](spark, sf_dir)
        )
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.maxMetadataStringLength")
        else:
            spark.conf.set("spark.sql.maxMetadataStringLength", saved)
    assert "Or(And(EqualTo(p_brand,Brand#11)" in plan
    assert "Or(And(GreaterThanOrEqual(l_quantity,1" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_anti_join_and_integer_threshold(spark, sf_dir):
    """tpch_q22_sales_opportunity: NOT EXISTS against recent orders
    must plan a left-ANTI hash join (never a per-customer probe), the
    scalar average arrives as a 1-row broadcast, and no sort appears
    anywhere (pure hash aggregation end to end)."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["tpch_q22_sales_opportunity"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the sanctioned 1-row scalar
    assert "SortMergeJoin" not in plan


def test_tpch_q10_topk_and_q13_zero_bucket(spark, sf_dir):
    """tpch_q10_returned_items must close with TakeOrderedAndProject
    (global top-20 = per-partition top-20 + driver merge), and
    tpch_q13_customer_distribution must keep the zero-order bucket:
    the priority filter lives in the join condition, so customers with
    no urgent orders land in c_count=0 — the plan keeps the outer
    join (no filter-below-join rewrite may turn it inner)."""
    import __spark_entry__ as em

    plan10 = _executed_plan(em.queries()["tpch_q10_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan10
    assert "EqualTo(l_returnflag,R)" in plan10

    df13 = em.queries()["tpch_q13_customer_distribution"](spark, sf_dir)
    assert "LeftOuter" in _executed_plan(df13)
    zero = df13.filter("c_count = 0").collect()
    assert zero and zero[0]["custdist"] > 0


def test_tpch_q6_pure_pushdown_scan(spark, sf_dir):
    """tpch_q6_forecast_revenue: all three predicates (shipdate window,
    discount band, quantity cap) must reach the lineitem parquet scan
    as PushedFilters, and the ReadSchema must carry exactly the four
    referenced columns — this query IS the pushdown benchmark, so a
    post-scan Filter-only plan or a full-width read fails the gate.
    No join, no sort, one partial+final aggregate pair."""
    import __spark_entry__ as em

    saved = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = _executed_plan(
            em.queries()["tpch_q6_forecast_revenue"](spark, sf_dir)
        )
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.maxMetadataStringLength")
        else:
            spark.conf.set("spark.sql.maxMetadataStringLength", saved)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in plan
    assert "l_orderkey" not in plan  # column pruning held
    assert "Join" not in plan and "Sort" not in plan


def test_tpch_q2_window_decorrelation_single_shuffle(spark, sf_dir):
    """tpch_q2_min_cost_supplier: the correlated min-supplycost
    subquery must decorrelate into ONE window MIN over p_partkey — no
    second scan of the derived partsupp, no join-back — with part and
    the EU supplier shortlist arriving as broadcast probes, and the
    final ORDER BY ... LIMIT 100 planning TakeOrderedAndProject."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["tpch_q2_min_cost_supplier"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q16_anti_join_and_distinct_pairs(spark, sf_dir):
    """tpch_q16_supplier_diversity: the NOT IN must plan a broadcast
    left-ANTI join (s_suppkey is non-null, so no null-aware fallback),
    the part attribute filters push to the part scan, and the
    COUNT(DISTINCT) runs as hash aggregation — no sort anywhere."""
    import __spark_entry__ as em

    saved = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = _executed_plan(
            em.queries()["tpch_q16_supplier_diversity"](spark, sf_dir)
        )
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.maxMetadataStringLength")
        else:
            spark.conf.set("spark.sql.maxMetadataStringLength", saved)
    assert "LeftAnti" in plan
    assert "Not(EqualTo(p_brand,Brand#1))" in plan
    assert "In(p_size" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_activity_bitmap_single_shuffle_no_join(spark, sf_dir):
    """events_activity_bitmap: the whole query is ONE hash aggregate on
    user_id — partial BIT_ORs combine map-side so the exchange moves a
    single bigint per user per mask — with every derived column pure
    projection above it. Any join or second exchange is a regression."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["events_activity_bitmap"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan


def test_token_budget_single_corpus_scan(spark, sf_dir):
    """pipeline_token_budget_epochs: the corpus is scanned ONCE (the
    (source, tokens) rollup); the water-filling solve above it runs on
    |sources| rows — a window plus two 1-row broadcast scalars — so no
    second documents scan and no sort-merge join may appear."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["pipeline_token_budget_epochs"](spark, sf_dir)
    )
    # the rollup is materialized (localCheckpoint) before the solve, so
    # the corpus scan never appears in the solve plan at all — the four
    # plan legs all read the |sources|-row RDD
    assert "documents.parquet" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_streaming_interval_join_state_eviction_plan(spark, sf_dir):
    """streaming_interval_join_live: the stream-stream join must
    execute as a StreamingSymmetricHashJoin with BOTH sides
    watermarked AND the time-range condition in the join predicate —
    the three preconditions that give Spark a state-eviction horizon.
    Lose any one (a missing watermark, a dropped range bound) and the
    join silently degrades to state that grows with the stream
    forever; this gate makes that a test failure instead of an OOM at
    hour 40. Asserted on the executed micro-batch plan (streaming
    physical plans only exist per-batch), plus the runtime state
    operator's watermark-eviction counters."""
    from user_feed_cdc_spark.streaming.windows import (
        attribution_join,
        events_file_stream,
        events_stream_dir,
    )
    from pyspark.sql import functions as F

    src = events_stream_dir(sf_dir)
    clicks = events_file_stream(spark, src).filter(
        F.col("event_type") == "click"
    )
    purchases = events_file_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    joined = attribution_join(
        clicks, purchases, horizon="30 minutes", watermark="1 hour"
    )
    q = (
        joined.writeStream.format("noop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
        progress = q.lastProgress
    finally:
        q.stop()

    assert "StreamingSymmetricHashJoin" in plan
    # both streams watermarked — one per side, upstream of the join
    assert plan.count("EventTimeWatermark") >= 2
    # the time-range condition survived into the join predicate: both
    # the lower bound (purchase >= click) and the upper bound
    # (purchase < click + 30 min) must appear, else no horizon exists
    join_line = next(
        ln for ln in plan.splitlines() if "StreamingSymmetricHashJoin" in ln
    )
    assert "purchase_ts" in join_line and "click_ts" in join_line
    assert ">=" in join_line and "<" in join_line
    # runtime confirmation: the state operator is the symmetric hash
    # join and it reports a watermark-based eviction threshold
    ops = progress["stateOperators"]
    sym = [op for op in ops if op.get("operatorName") == "symmetricHashJoin"]
    assert sym, f"no symmetricHashJoin state operator in {ops}"
    assert sym[0]["numRowsTotal"] > 0  # both sides actually buffered state


def test_dup_ngram_single_scan_no_join(spark, sf_dir):
    """text_dup_ngram_fraction: the corpus-frequency count is a
    gk-partitioned window over ONE explode — the groupBy+join-back form
    re-derived the md5 shingle explode on both sides (2 scans, 2x the
    hashing; measured 2x slower). A join or second documents scan is a
    regression."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["text_dup_ngram_fraction"](spark, sf_dir))
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_concurrent_sessions_checkpointed_deltas(spark, sf_dir):
    """events_max_concurrent_sessions: the ±1 delta frame is built in
    ONE pass (explode, not union-of-selects) and materialized to a
    cached scratch parquet (not localCheckpoint — no session-lifetime
    RDD blocks, r09 ADVICE), so the local-run and carry branches read
    the materialized rollup — the raw events scan must not appear in
    the final plan at all (it ran once, producing the scratch file)."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["events_max_concurrent_sessions"](spark, sf_dir)
    )
    assert "events.parquet" not in plan
    assert "BroadcastHashJoin" in plan  # the |days|-row carry join


def test_txn_log_deletes_broadcast_anti_join(spark, sf_dir):
    """source_txn_log_deletes: the deletion vectors apply as a
    BROADCAST anti equi-join keyed (file, event_id) — shuffle cost
    proportional to |deleted rows|, never the table; and no
    nested-loop shape may creep into the merge-on-read path."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["source_txn_log_deletes"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # DVs are small by contract


def test_txn_log_checkpoint_plan_is_scan_only(spark, sf_dir):
    """source_txn_log_checkpoint: after the driver-side planning step
    (checkpoint + tail replay -> live file list), the DATA plan is a
    plain parallel parquet scan + one aggregate — no joins; and the
    scan must read only live files (f0, f1, f2 were removed or
    rewritten, so their paths may not appear)."""
    import __spark_entry__ as em

    df = em.queries()["source_txn_log_checkpoint"](spark, sf_dir)
    plan = _executed_plan(df)
    assert "Join" not in plan
    dirs = {f.rstrip("/").split("/")[-2] for f in df.inputFiles()}
    assert dirs == {"f0r", "c12", "f3", "f4", "f5", "f6", "f7"}, dirs


def test_txn_log_data_skipping_prunes_files(spark, sf_dir):
    """source_txn_log_data_skipping: the stats-pruned scan must read
    ONLY the two files whose [min,max] can satisfy event_id <= max/2
    — r2/r3 never appear in inputFiles(), so half the table's bytes
    are provably untouched; and the data plan stays join-free."""
    import __spark_entry__ as em

    df = em.queries()["source_txn_log_data_skipping"](spark, sf_dir)
    assert "Join" not in _executed_plan(df)
    dirs = {f.rstrip("/").split("/")[-2] for f in df.inputFiles()}
    assert dirs == {"r0", "r1"}, dirs


def test_streaming_left_outer_join_eviction_plan(spark, sf_dir):
    """streaming_left_outer_join_live: same three eviction
    preconditions as the inner gate (StreamingSymmetricHashJoin, both
    sides watermarked, range bounds in the predicate) PLUS the outer
    specifics — the join type is LeftOuter (null emission is what the
    eviction horizon enables) and the state operator actually REMOVED
    rows during the replay (numRowsRemoved > 0), proof eviction ran
    rather than state surviving to query stop."""
    from pyspark.sql import functions as F

    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
    )

    src = events_stream_dir(sf_dir)
    c = (
        events_file_stream(spark, src)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    p = (
        events_file_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = c.join(
        p,
        (c.user_id == p.p_user)
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "leftOuter",
    )
    q = (
        joined.writeStream.format("noop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
        progress = q.lastProgress
    finally:
        q.stop()

    assert "StreamingSymmetricHashJoin" in plan
    assert plan.count("EventTimeWatermark") >= 2
    join_line = next(
        ln for ln in plan.splitlines() if "StreamingSymmetricHashJoin" in ln
    )
    assert "LeftOuter" in join_line
    assert "purchase_ts" in join_line and "click_ts" in join_line
    assert ">=" in join_line and "<" in join_line
    ops = progress["stateOperators"]
    sym = [op for op in ops if op.get("operatorName") == "symmetricHashJoin"]
    assert sym, f"no symmetricHashJoin state operator in {ops}"
    assert sym[0]["numRowsRemoved"] > 0  # eviction actually ran


def test_txn_log_bloom_index_prunes_files(spark, sf_dir):
    """source_txn_log_bloom_index: recompute the per-file bloom tests
    INDEPENDENTLY (read sidecars, hash the probe with the twin
    function) and pin inputFiles() to exactly that survivor set —
    which must be a strict subset of the four files (the pruning is
    real) and must contain the probe's true home file (the pruning is
    sound). With ~8 bits/key the expected survivor count is 1."""
    import os

    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from user_feed_cdc_spark.sources.formats import (
        _fbloom_positions,
        _txn_log_bloom_table,
    )
    from user_feed_cdc_spark.sources.tables import load_table
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    df = em.queries()["source_txn_log_bloom_index"](spark, sf_dir)
    scanned = {f.rstrip("/").split("/")[-2] for f in df.inputFiles()}

    root, _log_dir = _txn_log_bloom_table(spark, sf_dir)
    w = TxnLogWriter(root)
    entries = list(w.snapshot().adds.values())
    probe = (
        load_table(spark, sf_dir, "events").agg(F.max("event_id")).first()[0]
    )
    expect = set()
    for a in sorted(entries, key=lambda a: a["file"]):
        words = {
            r.word: r.bits
            for r in spark.read.schema("word long, bits long")
            .parquet(os.path.join(root, a["bloom"]))
            .collect()
        }
        if all(
            (words.get(p // 64, 0) >> (p % 64)) & 1
            for p in _fbloom_positions(probe, a["m"])
        ):
            expect.add(a["file"])
    assert scanned == expect, (scanned, expect)
    assert len(scanned) < 4  # pruned at least one file
    # soundness: the probe's true row came back
    assert df.count() == 1


def test_triangle_count_plan_is_all_equi_joins(spark, sf_dir):
    """graph_triangle_count's degree-oriented plan (the r10 rework the
    r11 baseline refresh is keyed on — BENCH_BASELINE.json
    plan_changes): every join must be a hash/merge EQUI join on vertex
    keys and the closing edge a LeftSemi — no nested-loop or cartesian
    anywhere. The rank filter evaluates post-join, but the fan-out it
    halves is orientation-bounded, which only holds if the wedge join
    really is keyed on the pivot."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["graph_triangle_count"](spark, sf_dir))
    assert "LeftSemi" in plan
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, f"{bad} in triangle plan"


def test_txn_writer_roundtrip_plan_is_scan_only(spark, sf_dir):
    """source_txn_log_writer_roundtrip: after the driver-side planning
    step (checkpoint + tail replay of the engine-written log), the
    executed plan must be a pure parquet scan + aggregate over exactly
    the live files {c01, b2..b8} — the removed b0/b1 never enter the
    scan even though they remain on disk."""
    import __spark_entry__ as em
    from user_feed_cdc_spark.sources.formats import _txn_writer_table

    df = em.queries()["source_txn_log_writer_roundtrip"](spark, sf_dir)
    scanned = {f.rstrip("/").split("/")[-2] for f in df.inputFiles()}
    assert scanned == {"c01"} | {f"b{i}" for i in range(2, 9)}, scanned
    root, _log = _txn_writer_table(spark, sf_dir)
    plan = _executed_plan(df)
    assert "Join" not in plan  # replay is planning-phase, not a join


def test_txn_delete_rewrite_is_copy_on_write(spark, sf_dir):
    """source_txn_log_delete_rewrite: the DELETE must have rewritten
    ONLY the stats-candidate file (r0 → r0d) — untouched quarters scan
    as their originals with no 'd' sibling on disk — and the dead
    original never enters the scan though it remains on disk."""
    import os

    import __spark_entry__ as em
    from user_feed_cdc_spark.sources.formats import _txn_delete_table

    df = em.queries()["source_txn_log_delete_rewrite"](spark, sf_dir)
    scanned = {f.rstrip("/").split("/")[-2] for f in df.inputFiles()}
    assert scanned == {"r0d", "r1", "r2", "r3"}, scanned
    root, _log = _txn_delete_table(spark, sf_dir)
    assert os.path.exists(os.path.join(root, "r0"))  # CoW keeps the old file
    for k in (1, 2, 3):
        assert not os.path.exists(os.path.join(root, f"r{k}d"))


def test_txn_optimize_cluster_enables_pruning(spark, sf_dir):
    """source_txn_log_optimize_cluster: after the engine-side
    re-cluster, the event_id range predicate must scan exactly ONE of
    the four clustered files (z0) — the pre-OPTIMIZE user-clustered
    files (still on disk) never enter the scan, and pruning that was
    provably impossible on them now works."""
    import os

    import __spark_entry__ as em
    from user_feed_cdc_spark.sources.formats import _txn_optimize_table

    df = em.queries()["source_txn_log_optimize_cluster"](spark, sf_dir)
    scanned = {f.rstrip("/").split("/")[-2] for f in df.inputFiles()}
    assert scanned == {"z0"}, scanned
    root, _log = _txn_optimize_table(spark, sf_dir)
    assert os.path.exists(os.path.join(root, "u0"))  # old layout retained


def test_txn_optimize_zorder_prunes_both_dims(spark, sf_dir):
    """source_txn_log_optimize_zorder: after the Morton re-cluster, a
    range predicate on EITHER dimension must prune to two of the four
    quadrant files — hour (the dimension the original user-clustered
    layout provably could not prune) hits {z0, z1}, user hits
    {z0, z2} — and the ZORDER commit is dataChange=false, so the
    change data feed over it emits ZERO rows (a data-unchanged
    rewrite in the feed is the classic CDF bug)."""
    import os

    import __spark_entry__ as em
    from user_feed_cdc_spark.sources.formats import (
        _txn_zorder_table,
        _zorder_prune,
        table_changes,
    )

    df = em.queries()["source_txn_log_optimize_zorder"](spark, sf_dir)
    scanned = {f.rstrip("/").split("/")[-2] for f in df.inputFiles()}
    assert scanned == {"z0", "z1"}, scanned

    root, _log_dir = _txn_zorder_table(spark, sf_dir)
    assert os.path.exists(os.path.join(root, "u0"))  # old layout retained
    # the user dimension prunes on the SAME layout (the 2-D property)
    import json

    with open(os.path.join(root, "_META")) as f:
        max_user = json.loads(f.readline())["max_user"]
    lower = _zorder_prune(root, "user", 0, max_user // 2 - 1)
    assert lower == ["z0", "z2"], lower
    # CDF silence: the ZORDER publish (v4) changes no data
    assert table_changes(spark, root, 4, 4).count() == 0


def test_txn_cdf_touches_only_changed_files(spark, sf_dir):
    """table_changes I/O posture: a single-version feed read opens
    ONLY that commit's touched files — v2's copy-on-write DELETE scans
    {a0, a0d}; the untouched append a1 and the OPTIMIZE generation
    never enter the plan — and the dataChange=false version opens
    NOTHING (zero input files, not just zero rows)."""
    from user_feed_cdc_spark.sources.formats import (
        _txn_cdf_table,
        table_changes,
    )

    root, _log_dir = _txn_cdf_table(spark, sf_dir)
    v2 = table_changes(spark, root, 2, 2)
    scanned = {f.rstrip("/").split("/")[-2] for f in v2.inputFiles()}
    assert scanned == {"a0", "a0d"}, scanned
    v3 = table_changes(spark, root, 3, 3)
    assert v3.inputFiles() == []
    assert v3.count() == 0


def test_html_strip_plan_is_narrow(spark, sf_dir):
    """text_html_strip: the ingest gate must be shuffle-FREE — the
    envelope is a scan-stage JVM concat and the cleaner one Arrow
    stage; any Exchange would mean the embarrassingly-parallel pass
    acquired a data movement it doesn't need."""
    import __spark_entry__ as em

    plan = _executed_plan(em.queries()["text_html_strip"](spark, sf_dir))
    head = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in head
    assert "MapInPandas" in head


def test_ols_single_partial_agged_shuffle(spark, sf_dir):
    """events_ols_value_hour_dow: all nine exact co-moments must ride
    ONE partial-agged exchange on event_type, and the normal-equation
    solve must be a projection (no second shuffle, no join) — the
    property that makes per-segment model fitting aggregate-cost."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["events_ols_value_hour_dow"](spark, sf_dir)
    )
    head = plan.split("== Initial Plan ==")[0]
    assert head.count("Exchange hashpartitioning") == 1
    assert "partial" in head.lower()
    assert "Join" not in head


def test_logistic_newton_plan_shape(spark, sf_dir):
    """events_logistic_purchase_hour: the hour collapse is one
    partial-agged exchange; the 24-row table then folds to ONE row
    (single-partition exchange is fine at 24 rows) and every Newton
    step must be a projection — no joins, no Python, nothing
    corpus-sized after the first aggregate."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["events_logistic_purchase_hour"](spark, sf_dir)
    )
    head = plan.split("== Initial Plan ==")[0]
    assert head.count("Exchange hashpartitioning") == 1
    assert "Join" not in head
    assert "InPandas" not in head and "BatchEvalPython" not in head


def test_png_stats_payloads_never_shuffle(spark, sf_dir):
    """multimodal_image_png_stats: decode rides Arrow map stages with
    NO exchange anywhere — payload bytes must never cross a shuffle
    (the media-entry contract; fan_out repartitions the tiny doc_id+
    text projection BEFORE payloads exist, which is the one allowed
    RoundRobin)."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["multimodal_image_png_stats"](spark, sf_dir)
    )
    head = plan.split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning" not in head
    assert head.count("MapInPandas") == 2  # build + decode stages


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """source_partitioned_dpp: the dimension filter must reach the
    partitioned fact scan as a dynamicpruning subquery (Catalyst DPP
    reusing the broadcast), so only the conversion partitions are
    opened — without DPP the join is a full fact scan however
    selective the dim filter is."""
    import __spark_entry__ as em

    df = em.queries()["source_partitioned_dpp"](spark, sf_dir)
    plan = _executed_plan(df)
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]
    # runtime proof, not just the plan marker: after execution the
    # fact scan must report having read only the 2 of 5 partitions
    import re as _re

    df.collect()
    scan = df._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"partitions read: (\d+)", scan.lower())
    if m:  # metric present on this Spark build
        assert int(m.group(1)) <= 2, scan[:2000]


def test_scd2_pointintime_join_is_single_exchange(spark, sf_dir):
    """cdc_scd2_pointintime_join: the as-of union+window form must
    plan as exactly ONE hash exchange (on key) over the unioned
    stream — no inequality join anywhere (the oracle's interval join
    would be a BroadcastNestedLoopJoin at scale)."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["cdc_scd2_pointintime_join"](spark, sf_dir)
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_zstd_jsonl_parse_stays_jvm_side(spark, sf_dir):
    """source_json_zstd_roundtrip: Python touches ONLY decompression —
    exactly one MapInPandas stage, sitting directly on the binaryFile
    scan, with from_json in a JVM projection above it (a second
    Python stage would mean parsing leaked out of codegen)."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["source_json_zstd_roundtrip"](spark, sf_dir)
    )
    assert plan.count("MapInPandas") >= 1
    # node list counts each node once in the tree and once in the
    # details; assert one stage via the numbered tree section
    tree = plan.split("(1) Scan")[0]
    assert tree.count("MapInPandas") == 1, tree
    assert "from_json" in plan
    assert "binaryFile" in plan


def test_ccnet_rank_window_is_band_partitioned(spark, sf_dir):
    """pipeline_ccnet_buckets (r15 VERDICT finding 1 closed): the
    doc-ranking row_number window must carry a band partition spec —
    no document row may cross a single-partition WindowExec. The only
    unpartitioned Window allowed is the cumulative-offset running sum,
    and it must sit directly on the band-count HashAggregate (bounded
    by the surprisal range, never by |docs|)."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["pipeline_ccnet_buckets"](spark, sf_dir)
    )
    lines = plan.splitlines()
    rank = [
        ln for ln in lines if "Window [" in ln and "row_number" in ln
    ]
    assert rank, "expected the row_number Window in the ccnet plan"
    for ln in rank:
        assert "windowspecdefinition(band#" in ln, ln
    for i, ln in enumerate(lines):
        if "Window [" in ln and "row_number" not in ln:
            below = "\n".join(lines[i + 1 : i + 6])
            assert "Exchange SinglePartition" in below, below
            assert "keys=[band#" in below, below


def test_char_entropy_is_shuffle_free_projection(spark, sf_dir):
    """text_char_entropy (r15 VERDICT finding 3 closed): the entropy is
    one in-row fold — no explode (Generate), no Window, no join; one
    output row per scanned row. The only Exchange allowed is fan_out's
    conditional ROUND-ROBIN spread of the under-partitioned local scan
    (r16: the interpreted per-element fold was pinned to one task by
    the single small file; fan_out is a no-op whenever the scan yields
    ≥cores partitions, i.e. at any real scale) — a key-hash Exchange
    (shuffle for grouping) would still fail this gate."""
    import __spark_entry__ as em

    plan = _executed_plan(
        em.queries()["text_char_entropy"](spark, sf_dir)
    )
    assert "Generate" not in plan, plan[:1200]
    assert plan.count("Exchange") <= 1, plan[:1200]
    if "Exchange" in plan:
        import re

        (kind,) = re.findall(r"Exchange (\w+)", plan)[:1] or ("?",)
        assert kind == "RoundRobinPartitioning", plan[:1200]
    assert "Window" not in plan
    assert "Join" not in plan


def test_zstd_shard_count_sets_scan_parallelism(spark, sf_dir):
    """source_json_zstd_roundtrip's documented 100 TB contract —
    "the producer's shard size sets parallelism" — as a tested fact
    (r15 VERDICT item 7): an N-shard build of the same fixture must
    arrive as N scan files AND N tasks through the Python decompress
    stage (whole frames are the unit of work; nothing coalesces or
    splits them at this size)."""
    from user_feed_cdc_spark.sources.formats import _jsonl_zstd_dir

    n = 4
    root = _jsonl_zstd_dir(spark, sf_dir, shards=n)
    frames = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jsonl.zst")
        .load(root)
        .select("content")
    )
    assert len(frames.inputFiles()) == n
    assert frames.rdd.getNumPartitions() == n
