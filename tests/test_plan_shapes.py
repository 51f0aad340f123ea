"""Physical-plan shape assertions — the 100-TB audit as tests.

Correct results with a wrong plan (full scans, cartesian joins,
global single-partition sorts) pass value checks at sf0.01 and fall
over at scale; these tests pin the plan properties that matter.
"""

from __future__ import annotations

import pytest

from hls_stac_parquet_spark.queries import REGISTRY
from tests.conftest import SF0001


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF0001)
    return df._jdf.queryExecution().executedPlan().toString()


def _analyzed(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF0001)
    return df._jdf.queryExecution().toString()


def test_filters_push_to_parquet_scan(spark):
    """Predicates must reach the scan (PushedFilters), and projection
    must prune the read schema."""
    for name, col in [
        ("q_filter_eq", "c_mktsegment"),
        ("q_filter_range_numeric", "p_size"),
        ("q_filter_ts_range", "l_shipdate"),
    ]:
        plan = _plan(spark, name)
        assert "PushedFilters: [" in plan and col in plan.split("PushedFilters:")[1][:300], name


def test_scan_project_prunes_columns(spark):
    plan = _plan(spark, "q_scan_project")
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_hash_agg_is_partial_then_final(spark):
    """Map-side combine: two HashAggregate nodes around the shuffle."""
    plan = _plan(spark, "q_hash_agg")
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_join_inner_broadcasts_dims(spark):
    plan = _plan(spark, "q_join_inner_hash")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_anti_semi_join_types(spark):
    assert "LeftAnti" in _plan(spark, "q_join_left_anti")
    assert "LeftSemi" in _plan(spark, "q_join_left_semi")


def test_range_join_is_bucketized_hash_join(spark):
    """The interval join must bucketize to a broadcast HASH join on the
    grid key (probe cost O(|events|), independent of window count) —
    not a nested loop over every (event, window) pair, and never a
    cartesian."""
    plan = _plan(spark, "q_join_range")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (per-
    partition heaps), not a global sort."""
    assert "TakeOrderedAndProject" in _plan(spark, "q_topk")


def test_whole_stage_codegen_everywhere_cheap(spark):
    """The relational core must run inside WholeStageCodegen spans.
    (AQE finalizes the plan only on execution, so run the query first.)"""
    for name in ("q_hash_agg", "q_math_funcs", "q_string_funcs", "q_hilbert_key"):
        df = REGISTRY[name].fn(spark, SF0001)
        df.collect()  # a write clones the QueryExecution; collect finalizes df's own
        plan = df._jdf.queryExecution().executedPlan().toString()
        # '*(n)' prefixes mark WholeStageCodegen spans in the final plan
        assert "*(" in plan, name


def test_no_python_udfs_in_relational_core(spark):
    """Python only where declared (similarity/spatial/sketch hybrid
    paths); the relational core stays JVM-side."""
    for name in (
        "q_hash_agg", "q_join_inner_hash", "q_window_rank", "q_sessionize",
        "q_text_stats", "q_hilbert_key", "q_dedup_exact", "q_ngram_jaccard",
    ):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_cosine_topk_has_no_key_shuffle(spark):
    """Broadcast-GEMM similarity: one mapInPandas and no KEY shuffle.
    The only exchange allowed is the round-robin fan-out that spreads
    a single-file scan across cores before the GEMM stage
    (tuning.parallelize_for_udf) — data never partitions by value."""
    plan = _plan(spark, "q_cosine_topk")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "MapInPandas" in plan


def test_sort_global_range_partitions(spark):
    """Total sort must range-partition (sample-based), not single-
    partition the data before ordering."""
    from hls_stac_parquet_spark.functions.spatial import morton_key
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{SF0001}/events.parquet")
        .select(F.col("user_id") % 256, (F.col("event_id") % 256))
    )
    # the building block of the GeoParquet sink's cluster_month
    plan = (
        spark.read.parquet(f"{SF0001}/lineitem.parquet")
        .repartitionByRange(F.col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "REPARTITION_BY_RANGE" in plan or "rangepartitioning" in plan.lower()

def test_contamination_broadcasts_eval_set(spark):
    """The eval-shingle side is dim-sized and must broadcast; the
    training corpus never shuffles its shingles."""
    plan = _plan(spark, "q_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_vocab_join_adapts_to_broadcast(spark):
    """The vocab (document-frequency) join carries no broadcast hint —
    at web scale the vocabulary outgrows any broadcast — but AQE must
    convert it to a broadcast join at runtime while it fits."""
    from hls_stac_parquet_spark.queries import REGISTRY

    df = REGISTRY["q_tfidf"].fn(spark, SF0001)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_top_terms_is_partial_agg_plus_takeordered(spark):
    """Shuffle carries |vocab| partial counts; the top-k is a
    per-partition heap, not a global sort."""
    plan = _plan(spark, "q_top_terms")
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_percentile_avoids_value_map_aggregate(spark):
    """The sort-based exact quantile must not use the builtin
    Percentile agg whose buffer carries every value as one map."""
    plan = _plan(spark, "q_percentile")
    assert "percentile" not in plan.lower()


def test_embedding_dim_stats_partial_aggregates(spark):
    """64 dimension groups regardless of corpus size — the explode
    must partial-aggregate before the exchange."""
    plan = _plan(spark, "q_embedding_dim_stats")
    assert plan.count("HashAggregate") >= 2


def test_stratified_sample_is_pure_filter(spark):
    """No shuffle: per-stratum rates are a row-local predicate."""
    plan = _plan(spark, "q_stratified_sample")
    assert "Exchange" not in plan


def test_chunk_documents_no_shuffle(spark):
    """Chunking is a pure map: generated-sequence explode, no
    Exchange anywhere."""
    plan = _plan(spark, "q_chunk_documents")
    assert "Exchange" not in plan


def test_mix_sources_broadcasts_weights_dim(spark):
    """The mixture-weights dim is |sources|-sized and must broadcast;
    the corpus side stays shuffle-free."""
    plan = _plan(spark, "q_mix_sources")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vector_normalize_no_python(spark):
    """Norms are HOF arithmetic — JVM-side, no Python eval nodes."""
    plan = _plan(spark, "q_vector_normalize")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_tpch_q3_takeordered_and_pushed_filters(spark):
    """Q3's top-10 must be a per-partition heap and both predicates
    must reach their scans."""
    plan = _plan(spark, "q_tpch_q3")
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [" in plan


def test_missing_days_is_anti_join_with_pushed_filter(spark):
    """The completeness gap check is an anti-join; the event_type
    filter reaches the scan."""
    plan = _plan(spark, "q_missing_days")
    assert "LeftAnti" in plan
    assert "event_type" in plan.split("PushedFilters:")[1][:200]


def test_funnel_partial_aggregates(spark):
    """Per-user min-aggregates must map-side combine (shuffle one row
    per user per side)."""
    plan = _plan(spark, "q_funnel")
    assert plan.count("HashAggregate") >= 4  # partial+final per side


def test_tpch_q5_broadcasts_dims_no_cartesian(spark):
    """Q5's region/nation dims broadcast; the six-table join tree must
    contain no cartesian product."""
    plan = _plan(spark, "q_tpch_q5")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lateral_decorrelates_to_ranked_join(spark):
    """The correlated LATERAL top-N must decorrelate into a window-
    ranked join — never a per-row nested loop / cartesian."""
    plan = _plan(spark, "q_lateral_topn")
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_autocorr_reuses_window_partitioning(spark):
    """The corr groupBy must reuse the lag window's user_id hash
    partitioning — exactly one Exchange in the plan."""
    plan = _plan(spark, "q_autocorr_lag1")
    assert plan.count("Exchange hashpartitioning") == 1


def test_corpus_pipeline_single_shuffle(spark):
    """The whole curation chain must cost exactly ONE hash exchange
    (the fingerprint-keyed survivor window) — every gate is a
    scan-side projection and the agg+self-join shape (3 exchanges,
    double projection evaluation) must not creep back."""
    plan = _plan(spark, "q_corpus_pipeline")
    assert plan.count("Exchange hashpartitioning") == 1


def test_scd2_single_user_shuffle(spark):
    """All SCD2 windows key on user_id: one user-keyed exchange, plus
    in-partition sorts only."""
    plan = _plan(spark, "q_scd2_intervals")
    assert plan.count("Exchange hashpartitioning") == 1


def test_skyline_is_window_plus_broadcast(spark):
    """The Pareto frontier must be the O(n log n) formulation: a
    distributed running max over the distinct-price aggregate,
    equi-joined back (AQE broadcasts it at this scale) — never the
    O(n²) NOT EXISTS self-join the oracle runs, and never a
    single-partition window over the price domain."""
    plan = _plan(spark, "q_skyline")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    low = plan.lower()
    assert "rangepartitioning" in low
    assert "windowspecdefinition(p_retailprice" not in low


def test_max_concurrency_day_partitioned_window(spark):
    """The sweep-line running sum must partition by day (streams at
    scale) — no global single-partition window, no pair join."""
    plan = _plan(spark, "q_max_concurrency")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partitionBy=[day" in plan.replace(" ", "").replace("#", "").lower() or "day" in plan.split("Window")[1][:200]


def test_spell_variants_blocked_not_cartesian(spark):
    """Fuzzy candidates must come from block-key equi-joins over the
    vocab aggregate (head/tail char), never a cartesian vocab²."""
    plan = _plan(spark, "q_spell_variants")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_lm_model_joins_broadcast(spark):
    """The bigram model is vocab²-bounded and must broadcast onto the
    doc-bigram stream; the corpus explode is scanned once."""
    plan = _plan(spark, "q_bigram_lm")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_benford_single_pass_aggregate(spark):
    """The audit is one partial+final aggregate over the scan; the
    total is a broadcast single-row dim."""
    plan = _plan(spark, "q_benford")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_ewma_single_user_shuffle(spark):
    """Both EWMA windows (row_number, running sums) must reuse ONE
    user-keyed exchange — the prefix-sum identity costs the same
    shuffle as any per-key window."""
    plan = _plan(spark, "q_ewma")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_dq_expectations_plan(spark):
    """FK check is a broadcast anti join; scalar rules share one
    scan-agg (stack unpivot) — never one scan per rule."""
    plan = _plan(spark, "q_dq_expectations")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # 4 scans total: orders (FK probe), customer (broadcast dim),
    # orders (scalar rules), lineitem — NOT one scan per rule (5 rules)
    assert plan.count("FileScan parquet") <= 4


def test_corr_matrix_single_scan_agg(spark):
    """All six correlations must fuse into ONE aggregate over one
    scan — not one scan-agg per pair."""
    plan = _plan(spark, "q_corr_matrix")
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan


def test_cumulative_distinct_no_expanding_distinct(spark):
    """The running distinct must be the first-touch prefix-sum: two
    keyed aggregates, then a window over the days-sized table — no
    join of the fact table to itself."""
    plan = _plan(spark, "q_cumulative_distinct")
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1


def test_trimmed_mean_broadcast_bounds(spark):
    """Winsor clamp bounds are a tiny per-group dim and must
    broadcast onto the ranked stream."""
    plan = _plan(spark, "q_trimmed_mean")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_market_basket_blocked_self_join(spark):
    """Pair generation must be an equi-join on l_orderkey (SortMerge
    or Hash), never a cartesian product. The single allowed
    nested-loop is the broadcast 1-row total joining onto the
    pair aggregate (scalar dim, not a data join)."""
    plan = _plan(spark, "q_market_basket")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "l_orderkey" in plan


def test_geo_knn_broadcasts_station_dim(spark):
    """The supplier reference set is a small dim: the NN join must be
    a broadcast (nested-loop over the broadcast side is fine — it's
    the documented small-dim tier), with the only exchange keyed on
    the fact side for the top-3 window."""
    plan = _plan(spark, "q_geo_knn")
    assert "Broadcast" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_ab_tests_single_event_shuffle(spark):
    """chi2/welch: sufficient statistics reduce in one event-scale
    aggregate; everything after runs on the tiny derived table."""
    for name in ("q_chi2_conversion", "q_welch_ttest", "q_time_to_convert"):
        plan = _plan(spark, name)
        assert plan.count("FileScan parquet") == 1, name
        assert "CartesianProduct" not in plan, name


def test_triangle_count_equi_joins_only(spark):
    """Wedge + closure joins must be equi-joins on node keys — no
    cartesian fallback. The single allowed nested-loop is the
    broadcast 1-row edge total joining the 1-row triangle count."""
    plan = _plan(spark, "q_triangle_count")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_linreg_single_grouped_agg(spark):
    """All regr_* aggregates must fuse into one grouped aggregate
    over one scan (sufficient-statistics reduction)."""
    plan = _plan(spark, "q_linreg_by_group")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_pattern_sequence_single_user_shuffle(spark):
    """Path construction must be ONE user-keyed aggregate (sort_array
    over structs, no window pass) with the regex in the projection."""
    plan = _plan(spark, "q_pattern_sequence")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("FileScan parquet") == 1


def test_snapshot_diff_key_partitioned_join(spark):
    """Version compare must be an equi-join on the key (SMJ/SHJ under
    AQE), never nested-loop; one scan per version."""
    plan = _plan(spark, "q_snapshot_diff")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_time_window_single_keyed_window(spark):
    plan = _plan(spark, "q_dedup_time_window")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("FileScan parquet") == 1


def test_vocab_growth_no_expanding_distinct(spark):
    """Vocabulary growth must be the first-touch prefix sum — no
    self-join of the postings, window only over the docs-sized
    aggregate."""
    plan = _plan(spark, "q_vocab_growth")
    assert "CartesianProduct" not in plan


def test_stickiness_single_distinct_reduction(spark):
    """DAU and MAU both derive from ONE distinct (month,day,user)
    reduction of the scan."""
    plan = _plan(spark, "q_stickiness")
    assert plan.count("FileScan parquet") == 1


def test_auc_scalable_rank_no_pairwise_join(spark):
    """AUC must be the rank-sum identity with RANGE-PARTITIONED rank
    assignment: the only join is the broadcast per-partition offset
    dim, the local rank window partitions by pid (no unpartitioned
    window funneling all rows through one task), and there is never
    a positives×negatives pair join."""
    plan = _plan(spark, "q_auc")
    plan_lower = plan.lower()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # only the broadcast offset dim
    assert "rangepartitioning" in plan_lower
    # the row-level rank window is pid-partitioned — an unpartitioned
    # row_number over the fact rows would read 'windowspecdefinition(score'
    assert "windowspecdefinition(score" not in plan_lower


def test_weighted_median_single_group_shuffle(spark):
    """Running weight and total weight share ONE group-keyed
    exchange; selection is filter + min on top."""
    plan = _plan(spark, "q_weighted_median")
    assert plan.count("Exchange hashpartitioning") == 1


def test_guarded_broadcast_refuses_oversized_dim(spark):
    """q_geo_knn's station dim is broadcast only while it is actually
    small; the in-plan guard refuses with a routed error at execution
    instead of OOM-ing (no separate count action — one job)."""
    import pytest

    from hls_stac_parquet_spark.tuning import guarded_broadcast

    dim = spark.range(100)
    over = spark.range(5).join(
        guarded_broadcast(dim, max_rows=10, alternative="grid-blocked join"),
        "id",
    )
    with pytest.raises(Exception, match="broadcast refused"):
        over.count()
    # under the cap it returns a broadcastable df usable in a join
    out = spark.range(5).join(
        guarded_broadcast(dim, max_rows=1000, alternative="n/a"),
        "id",
    )
    assert out.count() == 5


def test_parallelize_for_udf_spreads_single_partition(spark):
    """A 1-partition input fans out to defaultParallelism before an
    Arrow stage; an already-wide input passes through with no added
    shuffle."""
    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    narrow = spark.range(1000).coalesce(1)
    wide = spark.range(1000).repartition(64)
    target = spark.sparkContext.defaultParallelism
    assert parallelize_for_udf(narrow).rdd.getNumPartitions() == target
    assert parallelize_for_udf(wide) is wide


def test_outlier_iqr_broadcasts_fence_dim(spark):
    """Fences come from a groups-sized aggregate and must broadcast
    back onto the fact scan — never a sort-merge self-join."""
    plan = _plan(spark, "q_outlier_iqr")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_seq_pairs_joins_aggregate_not_events(spark):
    """The user-keyed self-join runs over the (user,type) min-ts
    AGGREGATE — partial aggregation must appear below the join."""
    plan = _plan(spark, "q_seq_pairs")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_feature_hashing_single_agg_no_python(spark):
    """The hashing-trick vectorizer is explode + one (doc,bucket)
    aggregate, entirely JVM-side."""
    plan = _plan(spark, "q_feature_hashing")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_containment_pairs_no_cartesian(spark):
    """Intersection join is shingle-keyed; nothing degenerates to a
    cartesian or nested-loop product."""
    plan = _plan(spark, "q_containment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_bins_broadcasts_bounds(spark):
    plan = _plan(spark, "q_quantile_bins")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cdc_apply_single_keyed_window(spark):
    """Log compaction: exactly one hash exchange (the user key)."""
    plan = _plan(spark, "q_cdc_apply")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_bloom_semi_join_probes_without_fact_shuffle(spark):
    """The bloom probe must be a broadcast onto the fact scan — the
    full fact shuffles ONLY after the bloom filter (in the verify
    join), never before. We pin it structurally: the plan's first
    Exchange above the lineitem scan sits above the bloom Filter."""
    from hls_stac_parquet_spark.operators.bloomjoin import bloom_semi_join
    from hls_stac_parquet_spark.queries.registry import t

    li = t(spark, SF0001, "lineitem")
    urgent = t(spark, SF0001, "orders").filter(
        "o_orderpriority = '1-URGENT'"
    )
    out = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the k membership tests compile to plain exprs inside a Filter
    assert "xxhash64" in plan and "Filter" in plan


def test_bitmap_distinct_shuffles_words_not_values(spark):
    """q_bitmap_distinct's second aggregation consumes the bitmap
    table (bucket, bits), not the raw events — bit_or partials do the
    64:1 compression map-side."""
    plan = _plan(spark, "q_bitmap_distinct")
    assert "bit_or" in plan and "bit_count" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 levels


def test_point_in_polygon_is_blocked_equi_join(spark):
    """The spatial join must be an equi-join on grid-cell keys —
    never a cartesian/nested-loop over points × polygons."""
    plan = _plan(spark, "q_point_in_polygon")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_gx" in plan and "_gy" in plan  # cell keys drive the join


def test_kaplan_meier_windows_are_cohort_partitioned(spark):
    """Life-table windows run partitioned by cohort over the
    aggregate — no unpartitioned global-sort window."""
    import re

    plan = _analyzed(spark, "q_kaplan_meier")
    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start(): m.start() + 400]
        assert "cohort" in seg, seg[:200]


def test_weighted_sample_topk_is_take_ordered(spark):
    """A-ES sampling must compile to a per-partition heap, never a
    global sort of the corpus."""
    plan = _plan(spark, "q_weighted_sample_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_rrf_fusion_heads_are_take_ordered(spark):
    """Both retrieval legs and the final head must be TakeOrdered —
    three bounded heaps, no full-corpus window/sort."""
    plan = _plan(spark, "q_rrf_fusion")
    assert plan.count("TakeOrderedAndProject") >= 3


def test_itemsets_3_no_cartesian(spark):
    plan = _plan(spark, "q_itemsets_3")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_attribution_single_user_shuffle(spark):
    """The carry-forward kernel: one user-keyed exchange feeds the
    window; no purchase×touch join anywhere."""
    plan = _plan(spark, "q_attribution")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_not_in_nulls_is_null_aware_anti_join(spark):
    """NOT IN must keep the null-aware flag — a plain LEFT ANTI would
    silently drop ANSI three-valued logic."""
    plan = _plan(spark, "q_not_in_nulls")
    # BroadcastHashJoin [...], [...], LeftAnti, BuildRight, true
    #                                                       ^^^^ isNullAwareAntiJoin
    assert "LeftAnti, BuildRight, true" in plan


def test_ema_two_exchanges_windows_share_one(spark):
    """Exactly two exchanges: the (user, day) aggregate and ONE
    user-keyed repartition that BOTH window passes (row_number and
    the shared cumulative frame) reuse."""
    plan = _plan(spark, "q_ema")
    assert plan.count("Exchange") == 2
    assert plan.count("Window") == 2


def test_dhash_hashes_shuffle_not_bytes(spark):
    """The banded hamming join must shuffle band keys derived from the
    8-byte hash — image payloads stay in the scan stage (no binary
    column in any exchange)."""
    df = REGISTRY["q_image_dhash_dedup"].fn(spark, SF0001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in plan.split("Exchange")[1:]:
        head = frag[:200]
        assert "content" not in head, head


def test_geo_radius_join_is_cell_keyed_no_cartesian(spark):
    """The large×large spatial tier must join on the grid-cell key —
    never a cartesian/BNLJ over the two point sets."""
    plan = _plan(spark, "q_geo_radius_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_cell" in plan  # equi-join key is the grid cell


def test_psi_drift_boundaries_broadcast(spark):
    """Decile boundaries must reach the binning passes as a broadcast
    1-row array dim, and the NULL filter must push to the scan."""
    plan = _plan(spark, "q_psi_drift")
    assert "BroadcastExchange" in plan
    assert "isnotnull(value" in plan.lower() or "IsNotNull(value" in plan


def test_item_item_cf_no_cartesian_and_pushed_prune(spark):
    """Pair generation must stay order-key-blocked (equi self-join) —
    the |items|² matrix must never appear — and the lineitem scan must
    prune to the two join columns. Since r8 the scored canonical
    pairs are the checkpoint (the final plan only scans the
    materialized RDD), so the blocked-join/prune invariants are
    asserted on the same pre-checkpoint fragment the query builds."""
    plan = _plan(spark, "q_item_item_cf")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # scored pairs feed from the checkpoint

    from pyspark.sql import functions as F

    from hls_stac_parquet_spark.operators.lsh import self_join_pairs
    from hls_stac_parquet_spark.queries.registry import t

    od = (
        t(spark, SF0001, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    frag = self_join_pairs(od, ["l_orderkey"], "l_partkey").groupBy(
        "id_a", "id_b"
    ).agg(F.count("*").alias("nab"))
    fplan = frag._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in fplan
    assert "l_orderkey" in fplan and "l_partkey" in fplan
    assert "l_extendedprice" not in fplan  # pruning reached the scan


def test_er_sorted_neighborhood_window_is_partitioned(spark):
    """The sliding pass must be a PER-BLOCK window — an unpartitioned
    global sort window would single-task the corpus."""
    import re

    plan = _plan(spark, "q_er_sorted_neighborhood")
    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start():plan.index("\n", m.start())]
        assert "blk" in seg, seg  # every window partitioned by the block


def test_sssp_edges_feed_from_checkpoint(spark):
    """Bellman-Ford rounds must join the MATERIALIZED edge relation
    (localCheckpoint scan), not replay the basket self-join per
    round."""
    plan = _plan(spark, "q_sssp_weighted")
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_removal_anti_join_and_drops(spark):
    """The boilerplate key set must be the small side of a left-anti
    join (clean chunks stream through), and on the fixture corpus —
    which plants duplicated passages — the pass must actually drop
    chunks from at least one document."""
    from pyspark.sql import functions as F

    plan = _plan(spark, "q_boilerplate_removal")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    df = REGISTRY["q_boilerplate_removal"].fn(spark, SF0001)
    dropped = df.filter(F.col("n_kept") < F.col("n_chunks")).count()
    assert dropped >= 1


def test_dsir_resample_takeordered_and_broadcast_dims(spark):
    """DSIR selection must end in TakeOrdered (never a global sort of
    the scored pool), keep the 64-bucket distribution dims broadcast
    (the only nested-loop joins are against those 1-row scalar dims),
    and never go cartesian."""
    plan = _plan(spark, "q_dsir_resample")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_global_quantiles_no_unpartitioned_fact_window(spark):
    """The fact-table rank must come from range partitioning + local
    row_number — the only unpartitioned windows allowed are over the
    #partitions-sized offsets dim."""
    import re

    plan = _plan(spark, "q_global_quantiles")
    low = plan.lower()
    assert "rangepartitioning" in low
    # the fact-side rank window is partitioned by _pid ...
    assert "windowspecdefinition(_pid" in low
    # ... and no window spec starts with the value column (which would
    # be an unpartitioned rank over the whole fact table)
    assert "windowspecdefinition(l_extendedprice" not in low


def test_perplexity_filter_plan(spark):
    """The LM scoring must stay vocabulary-keyed and kernel-ranked:
    no cartesian beyond the 1-row V broadcast, tercile assignment via
    the range-partitioned ntile kernel (no unpartitioned corpus
    window — 'windowspecdefinition(avg_nll' would be the cliff), and
    the per-doc NLL as a HOF fold (no per-bigram Python stage)."""
    plan = _plan(spark, "q_perplexity_filter")
    low = plan.lower()
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" in low
    assert "windowspecdefinition(avg_nll" not in low
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ohlc_bars_one_exchange_for_both_rank_directions(spark):
    """Both row_number directions and the final agg share the one
    (day, event_type) hash partitioning — exactly one Exchange."""
    plan = _plan(spark, "q_ohlc_bars")
    assert plan.count("Exchange") == 1, plan


def test_url_canonical_dedup_single_shuffle(spark):
    """The canonicalizer is a scan-side projection; the ONLY exchange
    is the canonical-key group-by (plus AQE's optional final-agg
    reuse) — no join, no window."""
    plan = _plan(spark, "q_url_canonical_dedup")
    assert "Join" not in plan and "Window" not in plan, plan
    # distinct-count agg adds an Expand but still one keyed shuffle
    # tree: hashpartitioning(canonical_url...)
    assert plan.count("hashpartitioning(canonical_url") >= 1, plan


def test_cuped_theta_joins_as_broadcast_scalar(spark):
    """theta/mean(x) is a 1-row sufficient-statistics dim: it must
    broadcast, and the per-user frame must not re-shuffle for it."""
    plan = _plan(spark, "q_cuped")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dp_counts_noise_on_aggregate_not_fact(spark):
    """Laplace arithmetic must sit ABOVE the group-by (on cells),
    never below it (on raw rows): the md5/conv projection appears
    after the final HashAggregate in the plan tree."""
    plan = _plan(spark, "q_dp_counts")
    # plan prints top-down: the signum/log noise projection must
    # appear BEFORE (above) the first HashAggregate line
    noise_at = plan.find("SIGNUM")
    agg_at = plan.find("HashAggregate")
    assert noise_at != -1 and agg_at != -1 and noise_at < agg_at, plan


def test_degree_distribution_single_fact_scan(spark):
    """The power-law fit is a window over the |distinct degrees|-row
    distribution — NOT a separate aggregate branch, which would
    recompute the dist subtree and scan the fact table twice (the
    defect this test originally caught)."""
    plan = _plan(spark, "q_degree_distribution")
    assert plan.count("FileScan parquet") == 1, plan
    assert "Window" in plan


def test_sql_text_interface_agg_before_join(spark):
    """Catalyst must keep the custkey aggregate BELOW the customer
    join (aggregate-then-join, not join-then-aggregate over the fact
    table), and the share/rank windows run over the segment
    aggregate."""
    plan = _plan(spark, "q_sql_text_interface")
    agg_at = plan.find("hashpartitioning(o_custkey")
    assert agg_at != -1, plan
    assert "CartesianProduct" not in plan


def test_source_overlap_checkpoint_reuse_and_digest_join(spark):
    """The fingerprint relation materializes ONCE (localCheckpoint)
    and feeds the pair join (both sides) + per-source sizes — the
    final plan must contain NO parquet rescan of documents, no
    cartesian, and the pair join must be a digest-keyed equi join
    (the |sources|²-bound lives in the groupBy above it)."""
    import re

    plan = _plan(spark, "q_source_overlap")
    assert "FileScan parquet" not in plan, plan
    # a, b, sizes×2 — never a parquet rescan per consumer
    assert plan.count("Scan ExistingRDD") == 4, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # equi join keyed on the fingerprint digest
    assert re.search(
        r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[f#", plan
    ), plan


def test_lang_id_trigram_broadcast_profile_single_materialize(spark):
    """The gram relation materializes once (checkpoint; profile build
    and scoring both read it) and the |langs|×200 profile dim joins
    BROADCAST onto the gram stream — never a shuffle of the fact-
    scale gram relation against a 1k-row dim."""
    plan = _plan(spark, "q_lang_id_trigram")
    assert "FileScan parquet" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_market_basket_blocked_pairs_and_takeordered(spark):
    """Pair generation must stay blocked by order key (co-partitioned
    equi self-join — Σ|basket|² work, never all-parts²), the ranked
    output must be TakeOrdered (never a global sort of all pairs),
    and the only join with no keys is the broadcast 1-row scalar."""
    plan = _plan(spark, "q_market_basket")
    assert "FileScan parquet" not in plan, plan  # od checkpointed once
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    # the scalar total joins as a broadcast nested loop over ONE row —
    # any other keyless join shape is a scale bug
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "l_orderkey" in plan, plan  # basket-blocked self join key


def test_mmr_pool_is_partial_window_limit_then_broadcast(spark):
    """q_mmr_diversify: the per-probe candidate pool must be pruned
    BEFORE the shuffle (WindowGroupLimit Partial on top of the Arrow
    map), and the pool→vector gather must broadcast the pool side —
    the corpus never shuffles."""
    plan = _plan(spark, "q_mmr_diversify")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one fact-scale exchange feeds the window (round-robin
    # spread for the Arrow map is input-sized, the window exchange is
    # pool-sized); no exchange after the broadcast join except the
    # tiny per-probe group shuffle
    assert plan.count("Exchange hashpartitioning") <= 2


def test_isotonic_calibration_fits_on_aggregate_not_fact(spark):
    """q_isotonic_calibration: the PAVA group must consume the ≤50-row
    bucket AGGREGATE (partial+final HashAggregate below the group
    shuffle), never raw events; the score normalizer joins as a
    broadcast scalar."""
    plan = _plan(spark, "q_isotonic_calibration")
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "FlatMapGroupsInPandas" in plan
    # the groups-in-pandas input is the bucket aggregate: its exchange
    # hashes the constant group key, downstream of the aggregate
    agg_pos = plan.find("HashAggregate")
    fmg_pos = plan.find("FlatMapGroupsInPandas")
    assert fmg_pos < agg_pos, "fit must sit ABOVE the aggregate in the plan tree"
