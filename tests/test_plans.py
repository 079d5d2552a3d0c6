"""Physical-plan assertions — the 100 TB design claims, machine-checked:
filters reach the parquet scan, dimensions broadcast, nested-schema
pruning narrows reads, and no candidate-pair operator ever degenerates to
a cartesian/broadcast-nested-loop join. A plan regression here is a scale
bug even while sf0.01 results stay correct."""

from __future__ import annotations

import pytest

from ehr_data_pipeline_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_partial_aggregation_before_shuffle(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # map-side combine: a partial_sum must appear below the exchange
    assert "partial_sum" in plan
    assert plan.count("Exchange") == 1  # exactly one shuffle


def test_q5_broadcasts_dims_and_never_cartesian(spark):
    plan = plan_of(spark, "q5_nation_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q3_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "q3_top_revenue_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


@pytest.mark.parametrize(
    "name",
    [
        "doc_minhash_lsh_pairs",
        "doc_winnow_pairs",
        "emb_lsh_knn",
        "emb_ivf_knn",
        "doc_simhash_band_pairs",
        "emb_lsh_neardup_pairs",
        "emb_lsh_neardup_groups",
        "doc_minhash_dup_groups",
    ],
)
def test_candidate_pair_operators_join_within_buckets(spark, name):
    """The near-dup/ANN scale path must join on bucket/cell keys — any
    cartesian or nested-loop join means the all-pairs fallback leaked in."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_purchase_events_prunes_nested_read(spark):
    """Column pruning reaches the scan: the events routing query must not
    read the wide props column it never touches."""
    plan = plan_of(spark, "event_route_counts")
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "props" not in scan


def test_exact_dedup_single_shuffle(spark):
    plan = plan_of(spark, "doc_exact_dedup_stats")
    # fingerprint groupBy then single-row stats: the fingerprint exchange
    # plus the final single-partition gather, nothing else
    assert plan.count("Exchange") <= 2


def test_anti_join_stays_hash_based(spark):
    plan = plan_of(spark, "orders_no_returned_lines")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_pivot_uses_explicit_values_no_discovery_scan(spark):
    """With the pivot value list given explicitly there must be exactly
    one scan of orders in the plan (no extra distinct-values job) and a
    single aggregate shuffle."""
    plan = plan_of(spark, "nation_priority_pivot")
    assert plan.count("Scan parquet") == 3  # orders + customer + nation, once each
    assert "CartesianProduct" not in plan


def test_funnel_near_dup_join_not_cartesian(spark):
    plan = plan_of(spark, "corpus_curation_funnel")
    # the exact all-pairs stage IS a nested-loop join by design at test SF;
    # the quality/exact-dedup stages must still join hash-based
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_projection_alignment_prunes_dropped_column(spark):
    plan = plan_of(spark, "events_projected_aligned")
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "props" not in scan  # dropped before the scan -> never read


def test_grouping_sets_single_pass(spark):
    """GROUPING SETS must be one Expand + one shuffle — never the
    three-scan union of per-set groupBys."""
    plan = plan_of(spark, "order_priority_grouping_sets")
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 1
    assert plan.count("Scan parquet") == 1


def test_argmin_window_rank_pushdown(spark):
    """The rank-1 filter of the argmin-per-group decorrelation must reach
    WindowGroupLimit (per-partition top-1 before the full sort/window),
    and the dim joins must broadcast, not shuffle."""
    plan = plan_of(spark, "part_cheapest_line_supplier")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_broadcasts_benchmark_set(spark):
    """The benchmark gram-set must broadcast (it is tiny vs the corpus);
    the corpus side must never cartesian-join."""
    plan = plan_of(spark, "doc_benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_gapfill_grid_is_broadcast_only(spark):
    """The dense spine × groups grid must come from broadcasts — the
    only shuffles are the bucket aggregate and the LOCF window."""
    plan = plan_of(spark, "events_hourly_gapfill")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds × groups grid
    assert "BroadcastHashJoin" in plan  # grid ⋈ observed buckets


def test_exists_decorrelates_to_semi_join_with_pushed_filters(spark):
    """Q4 shape: the EXISTS must plan as LeftSemi (no row multiplication)
    with both the date range and the returnflag filter at their scans."""
    plan = plan_of(spark, "order_priority_with_returns")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "CartesianProduct" not in plan


def test_top_supplier_single_fact_scan(spark):
    """Q15 shape: the windowed max must keep lineitem scanned ONCE — a
    separate max-aggregate branch re-scans the fact (no exchange reuse
    across diverged subtrees)."""
    plan = plan_of(spark, "top_revenue_supplier")
    assert plan.count("Scan parquet") == 2  # lineitem + supplier, once each
    assert "Window" in plan


def test_revenue_share_reuses_rollup_exchange(spark):
    """Q11 shape: the grand total re-aggregates the per-part rollup; at
    runtime AQE must reuse the rollup's exchange so lineitem is scanned
    once (ReusedExchange), and the 1-row total joins as a broadcast
    nested loop (the scalar-broadcast pattern)."""
    df = REGISTRY["part_revenue_share"].fn(spark, SF)
    df.collect()  # finalize AQE so reuse is visible in the executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar × rollup


def test_not_in_decorrelates_to_broadcast_anti_join(spark):
    plan = plan_of(spark, "brand_size_supplier_variety")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "LessThan(s_acctbal,0.0)" in plan  # deny-list filter at the scan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["customer_balance_quartiles", "customer_order_gaps"]
)
def test_rank_family_single_window_pass(spark, name):
    """All window functions share one (partition, order) ⇒ exactly one
    Window node, one exchange, one sort — never a pass per function."""
    plan = plan_of(spark, name)
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 1
    assert plan.count("Sort ") == 1


def test_disjunctive_bands_push_derived_ranges_to_scans(spark):
    """Q19 shape: Catalyst must derive per-side slices of the OR — the
    quantity envelope at the lineitem scan, the brand/size union at the
    part scan — with the cross-side disjunction as the join residual,
    never a cartesian."""
    plan = plan_of(spark, "branded_quantity_band_revenue")
    # the OR of quantity ranges reaches the lineitem parquet scan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nation_pair_volume_broadcasts_all_dims(spark):
    """Q7 shape: four broadcast joins (customer, supplier, nation ×2);
    the only shuffle joins are orders⋈lineitem."""
    plan = plan_of(spark, "nation_pair_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["linestatus_priority_classes", "nation1_market_share"]
)
def test_conditional_agg_single_pass(spark, name):
    """Q12/Q8 shapes: both CASE classes (or numerator + denominator)
    fold into ONE grouped aggregate — a single partial_sum stage, no
    per-class scan or union."""
    plan = plan_of(spark, name)
    assert "partial_sum" in plan
    assert "Union" not in plan
    assert plan.count("Scan parquet") <= 3


def test_salted_join_no_extra_shuffle_on_replicated_side(spark):
    """The replicated (exploded) side of a salted join must not add a
    shuffle beyond the join's own exchange."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.skew import salted_join
    from ehr_data_pipeline_spark.tables import load_table

    events = load_table(spark, SF, "events")
    dim = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    out = salted_join(events, dim, "user_id", n_salts=8,
                      skewed_unique_col="event_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan


def test_q6_all_conjuncts_pushed_to_scan(spark):
    plan = plan_of(spark, "forecast_revenue_change")
    # date range, discount band, and quantity cap all reach the scan
    # (toString elides the PushedFilters list, so assert on the scan's
    # DataFilters columns + a non-empty pushed list instead)
    assert "PushedFilters: [IsNotNull" in plan
    scan = plan.split("FileScan parquet")[1]
    data_filters = scan.split("DataFilters: [")[1].split("Format:")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in data_filters, col
    assert plan.count("Exchange") == 1  # single-row final combine only


def test_q18_semi_join_reuses_aggregation_key(spark):
    plan = plan_of(spark, "large_volume_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-100 without a global sort


def test_q21_decorrelated_joins_never_cartesian(spark):
    plan = plan_of(spark, "late_sole_supplier_ranking")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q9_part_filter_prunes_before_fact_join(spark):
    plan = plan_of(spark, "nation_year_profit")
    # the %red% name filter must sit under the part-side scan, not above a join
    assert "StartsWith" in plan or "p_name" in plan
    assert "CartesianProduct" not in plan


def test_chunker_is_shuffle_free(spark):
    plan = plan_of(spark, "doc_token_chunks")
    assert "Exchange" not in plan  # narrow split/posexplode/slice pipeline


def test_gopher_report_single_shuffle(spark):
    plan = plan_of(spark, "doc_gopher_quality_report")
    # one agg shuffle on source; all flags computed in the narrow pass below it
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_doc_simhash_has_no_interpreted_fold(spark):
    """doc_simhash builds its sketch with the per-bit aggregate the pair
    and group surfaces share, not an in-row fold of one interpreted
    filter() lambda per bit."""
    plan = optimized_of(spark, "doc_simhash")
    assert "lambdafunction" not in plan
    assert "Aggregate" in plan


def test_incremental_near_dedup_joins_within_bands(spark):
    plan = plan_of(spark, "doc_incremental_near_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_spans_never_pairwise(spark):
    """Exact-substring span dedup must stay linear: window hashes join
    the duplicated-hash set on the hash key, islands merge per-doc —
    any cartesian/nested-loop means a pairwise fallback leaked in."""
    plan = plan_of(spark, "doc_duplicate_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_side_broadcast(spark):
    """The Bloom filter is <= n_bits rows by construction; probing must
    broadcast it so the (huge) probe side never shuffles for the join."""
    plan = plan_of(spark, "orders_bloom_prune_stats")
    assert "BroadcastHashJoin" in plan


def test_hll_registers_partial_aggregate(spark):
    """HLL register build must partial-aggregate map-side (partial_max
    below the exchange) — the shuffle then carries <= m rows per group
    per partition regardless of input size."""
    plan = plan_of(spark, "event_user_hll")
    assert "partial_max" in plan


def test_pagerank_iterations_never_cartesian(spark):
    """Each PageRank iteration must be an edge-rank equi join + a
    groupBy(dst) — a cartesian would mean the rank vector stopped
    joining on the key."""
    plan = plan_of(spark, "nation_trade_pagerank")
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_term_stats(spark):
    """The per-query-term document frequencies are a tiny aggregate and
    must broadcast; the corpus-sized sides never shuffle for them."""
    plan = plan_of(spark, "doc_bm25_search")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "doc_dsir_selection",
        "events_value_quantile_sketch",
        "doc_substring_dedup",
        "doc_pps_token_sample",
        "doc_hybrid_rrf_search",
        "media_audio_segment_plan",
        "event_user_hll",
    ],
)
def test_new_surface_never_cartesian(spark, name):
    """None of the late-round queries may plan a cartesian product.
    BroadcastNestedLoopJoin is additionally banned for the queries with
    no tiny side; the exemptions each broadcast a driver-sized frame by
    design — DSIR/PPS/quantile-sketch's one-row scalar totals and
    quantile literals, and the hybrid query's one-row query vector —
    where a broadcast cross join IS the intended scale plan."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name
    tiny_side_ok = {
        "doc_hybrid_rrf_search",
        "doc_dsir_selection",
        "events_value_quantile_sketch",
        "doc_pps_token_sample",
    }
    if name not in tiny_side_ok:
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_dsir_models_broadcast(spark):
    """Both DSIR bucket models are <= n_buckets rows and must broadcast;
    the corpus-sized token stream never shuffles to meet them."""
    plan = plan_of(spark, "doc_dsir_selection")
    assert "BroadcastHashJoin" in plan


def test_hybrid_rrf_windows_only_over_topk_frames(spark):
    """doc_hybrid_rrf_search's rank windows are unpartitioned by nature
    (a global ranking), so their INPUT must be bounded first: each branch
    takes its top-50 via orderBy().limit(50) — planned as
    TakeOrderedAndProject (per-partition heaps + a 50-row merge), never a
    global Sort of the scored corpus. Machine-checked: every Window in
    the executed plan sits DIRECTLY above a TakeOrderedAndProject(limit=50
    frame, so no unpartitioned window ever sees a corpus-scale input
    (the round-5 scale defect at queries.py doc_hybrid_rrf_search)."""
    plan = plan_of(spark, "doc_hybrid_rrf_search")
    lines = plan.splitlines()
    window_lines = [i for i, ln in enumerate(lines) if "+- Window [" in ln]
    assert len(window_lines) == 2, "expected exactly the lex + sem rank windows"
    for i in window_lines:
        assert "TakeOrderedAndProject(limit=50" in lines[i + 1], (
            "Window input is not a bounded top-k frame:\n" + lines[i + 1]
        )
    # and the final fusion limit is also a top-k, not a global sort
    assert "TakeOrderedAndProject(limit=20" in plan


def test_registry_wide_plan_hygiene(spark):
    """Every registered query, machine-audited for the three structural
    scale-killers: a CartesianProduct anywhere, an unpartitioned Window
    whose child subtree is not provably bounded (top-k / limit / global
    or __bucket aggregate — tools/scale_audit.py), or a
    BroadcastNestedLoopJoin whose build side is not visibly bounded
    (the pre-round-7 emb_cosine_neardup_pairs anti-pattern: an
    unbounded all-pairs self-join whose broadcast grows with the
    corpus). The named tests above pin down specific plan SHAPES; this
    sweep guarantees no NEW query ships with any of the three
    unnoticed."""
    from tools.scale_audit import (
        _bnlj_over_unbounded,
        _unpartitioned_window_over_unbounded,
    )

    # plan shapes must be audited cache-free: a cached frame left behind
    # by another test file replaces scan subtrees with InMemoryRelation,
    # which hides the "provably bounded" markers the auditors look for
    # (r15: running test_similarity BEFORE this file flagged the whole
    # emb family as BNLJ-over-unbounded — an order dependence, not a
    # plan regression; the driver's alphabetical order never trips it)
    spark.catalog.clearCache()
    offenders = []
    for name in REGISTRY:
        plan = plan_of(spark, name)
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if _unpartitioned_window_over_unbounded(plan):
            offenders.append((name, "unpartitioned window over unbounded input"))
        if _bnlj_over_unbounded(plan):
            offenders.append((name, "BroadcastNestedLoopJoin over unbounded build side"))
    assert not offenders, offenders


def test_bnlj_hygiene_catches_the_old_cosine_shape(spark, sf_dir):
    """The hygiene sweep must FLAG the exact shape emb_cosine_neardup_pairs
    had before round 7 bounded it: an all-pairs broadcast self-join of the
    full (unfiltered) embeddings table."""
    from tools.scale_audit import _bnlj_over_unbounded

    from ehr_data_pipeline_spark.operators.similarity import cosine_near_dup_pairs
    from ehr_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    bad = cosine_near_dup_pairs(emb, threshold=0.4)
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert _bnlj_over_unbounded(plan), (
        "hygiene heuristic no longer catches the unbounded all-pairs BNLJ:\n"
        + plan
    )
