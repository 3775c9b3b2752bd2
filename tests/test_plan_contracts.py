"""Physical-plan contracts: the scale-critical plan shapes must not regress.

Correctness tests prove the right rows come back; these prove the right PLAN
produces them — the difference between "works at sf0.1" and "works at
100 TB". Each assertion encodes a property argued in SURVEY.md §4:
pushdown/pruning reach the parquet scans, small dims broadcast, rank-filters
use the WindowGroupLimit short-circuit, and nothing ever degenerates to a
cartesian product.
"""

from __future__ import annotations

import pytest

from pinterest_data_pipeline_spark.plans import analytics, extensions, relational  # noqa: F401

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = analytics.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    [
        "q1_top_brand_per_nation",
        "q3_top_supplier_per_nation",
        "q5_top_segment_per_balance_band",
        "join_asof_latest_order",
        "join_range_ship_window",
        "dedup_exact_documents",
        "events_session_window",
        # the bloom probe must stay a literal
        # expression, CDC apply a single-key window, streaks pure
        # aggregates — none may degenerate to a nested loop or Python
        # UDF. (kmv/psi attach a SINGLE-ROW scalar aggregate via
        # crossJoin(broadcast(...)) — the legitimate BNLJ, covered by
        # test_scalar_attach_bnlj_build_side_is_single_row instead.)
        "join_bloom_prefilter",
        "dedup_prefix_clusters",
        "cdc_apply_changelog",
        "events_user_streaks",
        # the bitmap offset join and the SN gap join
        # are explode-based (rolling-WAU precedent), never a 2-row BNLJ;
        # the rest are pure keyed joins/aggregates
        "events_bitmap_retention",
        "dedup_sorted_neighborhood",
        "events_max_concurrency_daily",
        "agg_gini_customer_revenue",
        "events_funnel_latency",
        "events_top_paths",
        "text_ngram_novelty",
        "text_pmi_cooccurrence",
        # pure keyed joins/aggregates (no scalar attach)
        "quality_duplicate_payments",
        "events_entry_channel_conversion",
        "events_new_vs_returning",
        "quality_functional_dependency",
        "quality_langid_confusion",
        "events_markov_accuracy",
        "text_zipf_slope",
    ],
)
def test_no_cartesian_or_python_udf_in_core_plans(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # core relational path stays JVM-side (no Python row UDFs)
    assert "BatchEvalPython" not in plan


def test_q1_broadcasts_dimension_and_prunes_columns(spark):
    plan = plan_of(spark, "q1_top_brand_per_nation")
    assert "BroadcastHashJoin" in plan
    # column pruning: the lineitem scan must read only the two join keys
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>" in plan


def test_rank_filter_uses_window_group_limit(spark):
    # W5 top-1-per-group: Spark's WindowGroupLimit short-circuit must kick
    # in (rank computed streaming per partition, rows beyond rank 1 dropped
    # before the filter).
    assert "WindowGroupLimit" in plan_of(spark, "q1_top_brand_per_nation")


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q2_orders_per_brand_year")
    assert "PushedFilters: [IsNotNull" in plan


def test_dpp_injects_runtime_partition_filter(spark):
    # the selective predicate lives on the DIMENSION, so static pruning
    # can't fire: the fact scan must carry a dynamicpruningexpression in
    # its PartitionFilters (1 of 3 partition trees read at runtime)
    plan = plan_of(spark, "join_dpp_partition_pruned")
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """Row-level runtime filtering — the complement to DPP when the fact
    is NOT partitioned on the join key: the optimizer pushes a bloom
    filter built from the selective dimension's keys into the fact scan
    (might_contain on xxhash64(l_orderkey)), so a shuffle join reads only
    probably-matching rows. Size thresholds are production-tuned, so the
    test lowers the application-side floor on an isolated session; the
    contract is that the engine's join shapes keep the injection legal."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ns.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    from pyspark.sql import functions as F

    li = ns.read.parquet(f"{SF}/lineitem.parquet")
    orders = ns.read.parquet(f"{SF}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan.lower()


def test_top_k_compiles_to_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "top_k_orders")
    # the deterministic reservoir sample is the same shape: per-partition
    # top-k + driver heap merge, never a global sort
    assert "TakeOrderedAndProject" in plan_of(spark, "sample_reservoir_topk")


def test_asof_join_is_single_shuffle_window(spark):
    plan = plan_of(spark, "join_asof_latest_order")
    # union + window formulation: no join explosion — no SortMergeJoin or
    # ShuffledHashJoin between events and orders (the only joins allowed
    # are none; Union + Window + Exchange is the whole shape)
    assert "Union" in plan and "Window" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_partial_aggregation_before_shuffle(spark):
    # A1 count: map-side partial agg (HashAggregate appears above and below
    # the Exchange — Catalyst splits automatically; guard against plans
    # that ship raw rows to the reducer)
    plan = plan_of(spark, "q7_orders_per_year")
    assert plan.count("HashAggregate") >= 2


def test_exchange_reuse_in_self_joined_plans(spark):
    # The minhash near-dup pipeline persists its candidate set; the banded
    # self-join must reuse one exchange of the banded frame, not recompute
    # the signature lineage per side.
    plan = plan_of(spark, "dedup_minhash_near_duplicates")
    assert "ReusedExchange" in plan or "InMemoryTableScan" in plan


def test_exists_subquery_plans_as_semi_join(spark):
    # RewritePredicateSubquery: EXISTS must become a left-semi hash join,
    # never a per-row subquery probe or nested loop.
    plan = plan_of(spark, "subquery_exists_urgent_customers")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_in_subquery_plans_as_semi_join(spark):
    plan = plan_of(spark, "subquery_in_heavy_parts")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_correlated_subquery_decorrelates_to_agg_join(spark):
    # The per-nation average must be computed ONCE (aggregate + equi-join),
    # not re-executed per supplier row.
    plan = plan_of(spark, "subquery_correlated_above_nation_avg")
    assert "HashAggregate" in plan
    assert any(j in plan for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q1_pushes_date_filter_and_partial_aggs(spark):
    plan = plan_of(spark, "tpch_q1_pricing_summary")
    # shipdate predicate reaches the parquet scan; map-side partial agg
    # reduces the scan to 6 groups before the exchange
    assert "LessThanOrEqual(l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2


def test_tpch_q5_broadcasts_both_dims(spark):
    plan = plan_of(spark, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q19_disjunction_still_hash_joins(spark):
    # OR-of-ANDs with a common equi-conjunct: Catalyst must extract the
    # join key and keep a hash join; the residual disjunction evaluates
    # as a post-join filter, never a nested loop.
    plan = plan_of(spark, "tpch_q19_disjunctive_predicates")
    assert any(j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q2_min_cost_supplier",
        "tpch_q4_order_priority",
        "tpch_q6_forecast_revenue",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q9_product_type_profit",
        "tpch_q13_customer_distribution",
        "tpch_q15_top_supplier",
        "tpch_q16_supplier_part_counts",
        "tpch_q17_small_quantity_revenue",
        "tpch_q20_promotion_suppliers",
        "tpch_q21_waiting_suppliers",
        "tpch_q22_dormant_customers",
    ],
)
def test_extended_tpch_plans_have_no_scale_killers(spark, name):
    """The extended TPC-H battery: no cartesian products, no nested-loop
    joins (except the sanctioned 1-row scalar-subquery broadcast), no
    Python row UDFs anywhere."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_tpch_q4_exists_plans_as_semi_join(spark):
    plan = plan_of(spark, "tpch_q4_order_priority")
    assert "LeftSemi" in plan


def test_tpch_q6_pushes_all_filters_to_scan(spark):
    # the pushdown benchmark: every predicate is scan-evaluable (the plan
    # string truncates the PushedFilters list, so assert the visible prefix
    # plus the 4-column pruned ReadSchema)
    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)" in plan
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"
        in plan
    )


def test_tpch_q17_decorrelates_to_aggregate_join(spark):
    # correlated scalar avg must become one aggregate + equi-join
    plan = plan_of(spark, "tpch_q17_small_quantity_revenue")
    assert "HashAggregate" in plan
    assert any(j in plan for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))


def test_tpch_q21_double_exists_stays_hash_joined(spark):
    plan = plan_of(spark, "tpch_q21_waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "window_analytics_battery",
        "text_analysis_battery",
        "clean_part_battery",
        "multimodal_image_features",
        "dedup_simhash_near_duplicates_stable",
        "embedding_near_duplicates_exact",
    ],
)
def test_round2_showpieces_have_no_scale_killers(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_window_battery_plans_single_exchange(spark):
    """Both window specs share the partition key, so the whole ten-function
    battery must cost ONE hash exchange (plus the presentation sort)."""
    plan = plan_of(spark, "window_analytics_battery")
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1


def test_text_battery_is_shuffle_free(spark):
    """The fused text battery is a pure projection: no exchange other than
    the presentation sort's range partitioning."""
    plan = plan_of(spark, "text_analysis_battery")
    assert "Exchange hashpartitioning" not in plan


def test_sentence_udtf_uses_arrow_eval(spark):
    """The sentence-split UDTF must ride Arrow batches (ArrowEvalPythonUDTF),
    not per-row pickling (BatchEvalPythonUDTF) — the last per-row Python
    surface in the registry."""
    plan = plan_of(spark, "text_sentence_split_udtf")
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan


def test_tpch_q11_scalar_threshold_is_single_aggregate(spark):
    """Q11's HAVING-fraction-of-total must decorrelate to one reused
    aggregate (subquery broadcast), never a per-group rescan, and the
    grouped join tree must stay hash-joined."""
    plan = plan_of(spark, "tpch_q11_important_stock")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))


def test_bucketed_join_has_no_shuffle_below_smj(spark):
    """join_bucketed_colocated's reason to exist: with broadcast off (the
    100 TB fact-to-fact regime), the SortMergeJoin must read bucket i
    against bucket i with NO Exchange on either input — the pre-shuffle
    was paid once at write time."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "join_bucketed_colocated")
        smj = plan.find("SortMergeJoin")
        assert smj >= 0, plan
        assert plan[smj:].count("Exchange") == 0, plan[smj:]
        assert plan.count("Bucketed: true") == 2, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_tfidf_term_join_is_not_a_forced_broadcast(spark):
    """The TF side of tfidf_top_terms is corpus-derived (token groups of a
    1%-of-docs slice — unbounded at 100 TB), so its join against document
    frequency must be AQE's choice, never a forced ``F.broadcast``. With
    the broadcast threshold disabled, a hint-free plan falls back to a
    shuffle join; a forced hint would keep broadcasting and OOM executors
    at scale."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "tfidf_top_terms")
        joins = plan.count("BroadcastHashJoin")
        # the single sanctioned broadcast is the 1-row n_docs scalar frame
        assert joins <= 1, plan
        assert any(
            j in plan for j in ("SortMergeJoin", "ShuffledHashJoin")
        ), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_unigram_logprob_vocabulary_join_not_forced_broadcast(spark):
    """Same contract as tfidf: the term-frequency table is corpus-derived
    (vocabulary-sized), so its join back onto the token stream must be
    AQE's choice — with the threshold off, a shuffle join must appear;
    only the 1-row total-count broadcast is sanctioned."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "text_unigram_logprob")
        assert plan.count("BroadcastHashJoin") <= 1, plan
        assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin")), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_sessionize_gap_costs_one_user_exchange(spark):
    """Gap sessionization: the lag window, the running-sum window, and the
    per-session rollup all share the user_id partitioning, so the whole
    plan must cost ONE hash exchange on user_id (plus the presentation
    sort) — the property that makes per-user sessionization embarrassingly
    parallel at 100 TB (no global ordering anywhere)."""
    plan = plan_of(spark, "events_sessionize_gap")
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_quantize_int8_broadcasts_dim_bounded_scales(spark):
    """int8 quantization: the per-dimension scale table is dim-bounded (64
    rows regardless of corpus size), so it must come back as a broadcast
    join — the corpus never shuffles for the code projection; the only
    hash exchange is the tiny per-dimension max-abs aggregation."""
    plan = plan_of(spark, "embedding_quantize_int8")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_histogram_has_map_side_partial_agg(spark):
    """Arithmetic binning must keep partial aggregation: HashAggregate
    above AND below the exchange, so 100 TB of orders reduce to 12 bins
    before any shuffle."""
    plan = plan_of(spark, "agg_histogram_totalprice")
    assert plan.count("HashAggregate") >= 2


def test_table_checksum_is_single_pass_no_row_shuffle(spark):
    """The anti-entropy digest must never shuffle row data: one scan, a
    map-side partial aggregate, and a 1-row final exchange only."""
    plan = plan_of(spark, "quality_table_checksum")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" not in plan  # only the 1-row single-partition exchange
    assert "BatchEvalPython" not in plan


def test_pack_sequences_never_globally_sorts_the_data(spark):
    """The packing prefix sum must stay block-parallel: its only wide
    exchange over the data is the per-block hash partitioning — a global
    rangepartitioning over ALL rows for the running sum (the naive
    Window.orderBy plan, one task at scale) must not appear before the
    window. (The presentation orderBy after the window is fine: the driver
    collects anyway.)"""
    df = analytics.QUERIES["pack_sequences_documents"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win = plan.find("Window")
    assert win >= 0
    below_window = plan[win:]
    assert "hashpartitioning(_blk" in below_window
    assert "rangepartitioning" not in below_window


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    # ANSI LATERAL with correlated ORDER BY + LIMIT must not plan as a
    # per-outer-row re-execution or a cartesian: Catalyst decorrelates it
    # into WindowGroupLimit + one broadcast join.
    plan = plan_of(spark, "join_lateral_top_customers")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cms_cells_keep_partial_aggregation(spark):
    # the sketch's compression IS the map-side partial aggregate: the
    # explode fans out depth rows per input, but the exchange may carry
    # at most depth*width rows per task
    from pinterest_data_pipeline_spark.operators import sketches
    from pinterest_data_pipeline_spark.session import load_table

    li = load_table(spark, SF, "lineitem")
    cells = sketches.cms_cells(li, "l_partkey", depth=4, width=256)
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Exchange" in plan


def test_weighted_sample_uses_take_ordered(spark):
    plan = plan_of(spark, "sample_weighted_by_length")
    assert "TakeOrderedAndProject" in plan


def test_null_safe_join_is_hash_not_nested_loop(spark):
    # <=> must plan as an ordinary hash join keyed on the null-safe key,
    # never a BroadcastNestedLoopJoin over the whole corpus
    plan = plan_of(spark, "join_null_safe_keys")
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ewma_decay_joins_broadcast_daily_rollup(spark):
    # the decay band-join must run on the broadcast (days x types) rollup,
    # with partial aggregation collapsing raw events map-side first
    plan = plan_of(spark, "events_ewma_daily")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x (daily, decay)
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "sketch_kmv_distinct_union",
        "quality_drift_psi",
        # scalar attaches: CUPED pooled moments,
        # Theil-Sen median slope, KM corpus end, dyadic-decay reference
        # day, hierarchy global total, key-skew per-column totals (PMI
        # inlines its corpus count as a literal via the bounded collect
        # instead)
        "events_decay_score_dyadic",
        "agg_hierarchical_share",
        "quality_join_key_skew",
        "sample_group_split_no_leakage",
        "events_cuped_adjusted",
        "events_theilsen_trend",
        "events_kaplan_meier",
    ],
)
def test_scalar_attach_bnlj_build_side_is_single_row(spark, name):
    """kmv/psi attach a scalar total with crossJoin(broadcast(agg)) — the
    one BroadcastNestedLoopJoin this engine permits, because its build
    side is an ungrouped aggregate (exactly ONE row: the same shape a
    scalar subquery compiles to). A grouped/unbounded build side here
    would be a real cartesian regression, so pin the structure: every
    BNLJ in these plans must sit above an ungrouped HashAggregate whose
    grouping key list is empty."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # every BNLJ build side is a broadcast of a keys=[] aggregate
    import re

    assert "BroadcastNestedLoopJoin" in plan
    # IdentityBroadcastMode exchanges exist ONLY to feed BNLJs (keyed
    # hash joins use HashedRelationBroadcastMode), so count equality
    # pins every BNLJ to a scalar-row broadcast — robust to hash joins
    # appearing under the BNLJ in the formatted text, where the old
    # fragment-prefix check misfired
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "IdentityBroadcastMode"
    )
    # and the aggregate under each broadcast groups by NOTHING
    assert re.search(r"HashAggregate\(keys=\[\]", plan)


@pytest.mark.parametrize(
    "name",
    [
        "agg_pareto_skyline",
        "quality_ks_two_sample",
        "window_global_percent_rank",
        "quality_spearman_corr",
        "quality_mann_whitney_u",
    ],
)
def test_distinct_domain_windows_stay_bucketed(spark, name):
    """The distinct-value cumulative windows run through
    two_phase_running — every Window over the VALUE axis must be
    partitioned by the bucket column, and the only unpartitioned window
    allowed is phase 2's offset pass over the bucket rollup (ordered BY
    the bucket column itself, one row per occupied bucket). A revert to
    the naive `Window.orderBy(value)` — which funnels the whole distinct
    domain through one task — trips the windowspec scan below."""
    import re

    plan = plan_of(spark, name)
    # phase-3 windows partition on the bucket column
    assert "windowspecdefinition(_bkt" in plan
    # any unpartitioned windowspec must ORDER BY the bucket column
    # (phase 2's rollup pass), never by a raw value column
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        if "ASC" in head or "DESC" in head:  # no partition columns
            assert head.startswith("_bkt"), (
                f"{name}: unpartitioned window ordered by {head!r} — "
                "the naive distinct-domain window is back"
            )


def test_ann_certification_pipelines_execute_once(spark):
    """The ANN certification edges must consume their
    approximate pipeline exactly once. ann_ivf_filtered_topk fuses
    recall + the filter audit into one aggregate over one ANN subtree —
    a shape that referenced `ann` from two branches would carry TWO
    copies of the IVF candidate stage (six ArrowEvalPython nodes, the
    corpus kernel twice). Three Arrow stages
    remain by construction: corpus cell-assign, query cell-assign, and
    the brute-force truth kernel. The sweep pins its shared index via
    the persisted-frame marker (build-once/query-many): without the
    persist, both operating points re-encode the corpus."""
    plan = plan_of(spark, "ann_ivf_filtered_topk")
    n_arrow = plan.count("ArrowEvalPython")
    assert n_arrow <= 3, (
        f"ann_ivf_filtered_topk plans {n_arrow} Arrow stages — the "
        "double-executed certification shape is back"
    )
    sweep = analytics.QUERIES["ann_ivf_pq_recall_sweep"](spark, SF)
    splan = sweep._jdf.queryExecution().executedPlan().toString()
    # BOTH persisted frames must appear: the encoded index
    # AND the exact truth set each feed two operating points — losing
    # either one silently re-encodes / re-brute-forces the corpus while
    # a single-occurrence check stays green
    n_cached = splan.count("InMemoryTableScan")
    assert n_cached >= 2, (
        f"ann_ivf_pq_recall_sweep plans {n_cached} InMemoryTableScan — "
        "a persisted index/truth frame was dropped and an operating "
        "point re-encodes the corpus"
    )
