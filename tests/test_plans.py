"""Plan-property assertions (SURVEY.md §4): the physical plans must
BE the scale-appropriate plans, not merely produce correct rows.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hive_metadata_collect_spark import registry
from hive_metadata_collect_spark.operators import composites, joins
from hive_metadata_collect_spark.plans.explain import (
    assert_plan,
    physical_plan,
    scan_summary,
    shuffled_hash_joins,
)
from hive_metadata_collect_spark.sources.fixtures import load_table

OPS = registry.load_all()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """Q6-shape predicates appear as PushedFilters on the parquet scan."""
    df = OPS["filter_range_pred"].fn(spark, sf_dir)
    scan = scan_summary(df)
    assert "PushedFilters" in scan
    assert "l_quantity" in scan and "l_discount" in scan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 3-column projection reads a 3-column ReadSchema."""
    df = OPS["scan_project"].fn(spark, sf_dir)
    scan = scan_summary(df)
    assert "l_orderkey" in scan
    assert "l_extendedprice" not in scan and "l_shipdate" not in scan


def test_broadcast_hint_plan(spark, sf_dir):
    """#15 must build a broadcast hash join, never shuffle the fact."""
    df = OPS["join_broadcast_hint"].fn(spark, sf_dir)
    assert_plan(df, contains=("BroadcastHashJoin",), absent=("SortMergeJoin",))


def test_star_join_fact_never_shuffles(spark, sf_dir):
    """Q5 shape: lineitem probes two independent broadcast sides
    (date-filtered orders, ASIA customers — region/nation are resolved
    driver-side, see _region_nations); the only Exchange is the final
    group-by on n_name — lineitem itself is never hash-repartitioned."""
    df = OPS["join_multiway_star"].fn(spark, sf_dir)
    df.count()  # let AQE finalize
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "n_name" in line, f"unexpected fact shuffle: {line}"


def test_topk_uses_take_ordered(spark, sf_dir):
    """orderBy().limit() compiles to TakeOrderedAndProject (per-
    partition heaps), not a global Sort."""
    df = OPS["limit_topk_global"].fn(spark, sf_dir)
    assert_plan(df, contains=("TakeOrderedAndProject",))


def test_agg_is_two_phase(spark, sf_dir):
    """Grouped agg runs partial (map-side) + final HashAggregate."""
    plan = physical_plan(OPS["agg_pricing_summary"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_semi_join_never_expands(spark, sf_dir):
    df = OPS["join_left_semi"].fn(spark, sf_dir)
    assert "LeftSemi" in physical_plan(df)


def test_wholestage_codegen_covers_hot_path(spark, sf_dir):
    """The pricing-summary pipeline stays inside whole-stage codegen
    (no Python evaluation nodes in the hot path). The AQE plan wrapper
    hides codegen spans in explain output, so toggle it off just for
    the display (codegen itself runs either way)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = OPS["agg_pricing_summary"].fn(spark, sf_dir)
        plan = physical_plan(df)
        codegen = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "codegen"
            )
        )
        assert "Found 0 WholeStageCodegen" not in codegen
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_scan_count_has_no_wide_shuffle(spark, sf_dir):
    """The rowcount inventory is partial-count per table + 1-row
    unions — no hashpartitioning exchange anywhere."""
    plan = physical_plan(OPS["scan_count"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Both sides bucketed on the join key → sort-merge join with no
    shuffle exchange on either side (broadcast disabled so the bucket
    path is actually exercised)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = OPS["join_bucketed_colocated"].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_result_matches_unsalted(spark, sf_dir):
    """Salting must be semantics-preserving: same rows as the plain
    join, any N."""
    salted = {
        tuple(r) for r in OPS["join_skew_salted"].fn(spark, sf_dir).collect()
    }
    plain = {
        tuple(r)
        for r in OPS["join_skew_unsalted"].fn(spark, sf_dir).collect()
    }
    assert salted == plain
    # the twin must carry no salt machinery at all
    plain_plan = physical_plan(OPS["join_skew_unsalted"].fn(spark, sf_dir))
    assert "salt" not in plain_plan and "Generate explode" not in plain_plan


def test_partitioned_layout_prunes_partitions(spark, sf_dir):
    """The date predicate must become PartitionFilters on the
    partitioned-layout scan — directories outside the range are never
    listed, the foundation of the 100 TB date-partitioned design."""
    df = OPS["sink_partitioned_layout"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan
    assert "event_date" in plan


def test_salted_join_is_shuffled_hash(spark, sf_dir):
    """Salting is only meaningful on a shuffled join: the plan must be
    a ShuffledHashJoin on (key, salt) — if AQE broadcast the replicated
    dim the demonstration would be void (and slower)."""
    plan = physical_plan(OPS["join_skew_salted"].fn(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


#: plan-time size gates that send join_multiway_star and
#: tpch_q21_waiting_suppliers to their shuffle_hash branch; the sf0.001
#: fixtures sit under every gate, so the test lowers them to 0
_SHJ_GATES = {
    "join_multiway_star": (
        (joins, "_BROADCAST_GATE_BYTES"),
        (joins, "_DIM_BCAST_GATE_BYTES"),
    ),
    "join_skew_unsalted": (),
    "tpch_q21_waiting_suppliers": ((composites, "_BROADCAST_GATE_BYTES"),),
}


@pytest.mark.parametrize("name", sorted(_SHJ_GATES))
def test_shuffle_hash_hints_build_the_small_side(spark, sf_dir, monkeypatch, name):
    """Every ``shuffle_hash`` hint must put the hash table on the small
    side: no ShuffledHashJoin builds from lineitem, and the fact probes.
    join_multiway_star builds customers into orders, then the joined
    dim into lineitem; join_skew_unsalted probes with lineitem already
    narrowed to (l_orderkey, rev_e4) before its exchange; q21 builds
    the status-F orders. The forced branch returns the default
    branch's rows."""
    default_rows = sorted(OPS[name].fn(spark, sf_dir).collect())
    for module, gate in _SHJ_GATES[name]:
        monkeypatch.setattr(module, gate, 0)
    df = OPS[name].fn(spark, sf_dir)
    shj = shuffled_hash_joins(df)
    assert len(shj) == (2 if name == "join_multiway_star" else 1), shj
    for build, probe, _ in shj:
        assert "lineitem.parquet" not in build, build
        assert "orders.parquet" in build or "customer.parquet" in build, build
    fact_build, fact_probe, fact_cols = shj[0]
    assert "lineitem.parquet" in fact_probe, fact_probe
    if name == "join_multiway_star":
        assert "orders.parquet" in fact_build and "customer.parquet" in fact_build
        dim_build, dim_probe, _ = shj[1]
        assert "customer.parquet" in dim_build and "orders.parquet" not in dim_build
        assert "orders.parquet" in dim_probe
    if name == "join_skew_unsalted":
        assert fact_cols == ["l_orderkey", "rev_e4"], fact_cols
    assert sorted(df.collect()) == default_rows


def test_lineage_iterations_broadcast(spark, sf_dir):
    """The doubling closure runs exactly two rounds (reach≤2, reach≤4),
    each a join against a broadcast |V|²-bounded reach frame — no
    sort-merge join anywhere in the iterative plan."""
    plan = physical_plan(OPS["cat_lineage_closure"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_hof_ops_stay_jvm_side(spark, sf_dir):
    """Lambda higher-order functions must not fall back to Python
    evaluation — the whole point is per-row collection work inside
    codegen."""
    for name in ("fn_array_hof", "text_bigram_topk", "fn_map_hof"):
        plan = physical_plan(OPS[name].fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_native_lsh_plans_have_no_cartesian(spark, sf_dir):
    """Both native LSH candidate generators (the PRODUCTION helper
    frames behind the recall-contract ops) must join on (band/table, key)
    — a cartesian/nested-loop product would mean the bucket keys fell
    out of the join condition."""
    from hive_metadata_collect_spark.llm.dedup import minhash_lsh_candidates
    from hive_metadata_collect_spark.llm.similarity import lsh_pair_candidates

    for fn in (minhash_lsh_candidates, lsh_pair_candidates):
        plan = physical_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__  # Arrow only


def test_cosine_topk_is_take_ordered_arrow(spark, sf_dir):
    """The brute-force cosine top-k must stay scan → Arrow-batched
    UDF → TakeOrderedAndProject: no shuffle of the corpus, no
    row-at-a-time Python."""
    plan = physical_plan(OPS["sim_topk_cosine"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_unigram_model_agg_is_two_phase(spark, sf_dir):
    """The unigram model build and the per-doc rollup must both run
    partial (map-side) aggregation before their shuffles."""
    plan = physical_plan(OPS["text_unigram_logprob"].fn(spark, sf_dir))
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_null_safe_join_stays_equi(spark, sf_dir):
    """eqNullSafe must be recognized as an equi-join key: hash join,
    never the nested-loop degeneration the OR-disjunction form gets."""
    df = OPS["join_null_safe_eq"].fn(spark, sf_dir)
    assert_plan(
        df,
        contains=("BroadcastHashJoin",),
        absent=("BroadcastNestedLoopJoin", "CartesianProduct"),
    )


def test_mode_avoids_window_sort(spark, sf_dir):
    """Deterministic mode is two aggregation levels — never a
    per-group window sort over the raw rows."""
    df = OPS["agg_mode_deterministic"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "Aggregate" in plan


def test_decontaminate_no_cartesian(spark, sf_dir):
    """Shingle semi-join + anti-join only — a cartesian/BNLJ here
    would be quadratic in corpus size."""
    df = OPS["pipeline_decontaminate"].fn(spark, sf_dir)
    assert_plan(
        df,
        contains=("BroadcastHashJoin",),
        absent=("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"),
    )


def test_except_all_is_aggregation_not_join(spark, sf_dir):
    """EXCEPT ALL compiles to multiplicity counting + row replication
    (one shuffle on the value), not a join."""
    df = OPS["set_except_all"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "HashAggregate" in plan
    assert "Join" not in plan


def test_relation_cache_returns_same_frame(spark, sf_dir):
    """Perf guard: load_table memoizes the
    (session, dir, table) relation — a fresh LogicalRelation per call
    re-lists files and re-reads parquet footers, which dominated
    star-join planning time (0.53 s → 0.13 s when cached)."""
    from hive_metadata_collect_spark.sources.fixtures import load_table

    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    assert a is b


def test_stats_gated_broadcast_hints_small_not_large(spark, sf_dir):
    """Perf guard: _stats_gated_broadcast hints a
    frame whose plan-time size estimate is under the gate (static
    broadcast, no AQE materialization barrier) and leaves a frame with
    a huge estimate unhinted (hinting would override every size check
    and OOM the driver at scale)."""
    from hive_metadata_collect_spark.operators.joins import (
        _stats_gated_broadcast,
    )

    # the analyzed plan keeps the hint node; the optimizer would strip
    # it from a bare (join-less) frame
    small = load_table(spark, sf_dir, "nation")
    hinted = _stats_gated_broadcast(small)
    assert "ResolvedHint" in str(hinted._jdf.queryExecution().analyzed())

    big = spark.range(3_000_000_000)  # ~24 GB plan-time estimate
    unhinted = _stats_gated_broadcast(big)
    assert "ResolvedHint" not in str(
        unhinted._jdf.queryExecution().analyzed()
    )


def test_chunk_overlap_no_shuffle(spark, sf_dir):
    """text_chunk_overlap is embarrassingly parallel: split → explode
    → slice inherits the scan's partitioning; the only Exchange
    allowed is the gated small-input round-robin spread (never a hash
    repartition)."""
    from hive_metadata_collect_spark import registry

    ops = registry.load_all()
    plan = physical_plan(ops["text_chunk_overlap"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_prepared_frame_memoizes_and_matches(spark, sf_dir):
    """Prepared-query cache: same object back per (session, op,
    sf_dir), and the prepared frame's result equals a fresh build's."""
    a = registry.prepared_frame(spark, "agg_pricing_summary", sf_dir)
    b = registry.prepared_frame(spark, "agg_pricing_summary", sf_dir)
    assert a is b
    fresh = registry.load_all()["agg_pricing_summary"].fn(spark, sf_dir)
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, fresh.collect())
    )


def test_tpch_composites_shape(spark, sf_dir):
    """The TPC-H composites must compile to top-k heaps (no global
    sort) and broadcast their dimension sides."""
    for name in ("tpch_q3_shipping_priority", "tpch_q10_returned_items"):
        plan = physical_plan(OPS[name].fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_pii_redact_stays_jvm_side(spark, sf_dir):
    """regexp redaction must stay in codegen — no Python eval, no
    hash exchange (embarrassingly parallel)."""
    plan = physical_plan(OPS["text_pii_redact"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_lineage_sql_parse_is_narrow_jvm_side(spark, sf_dir):
    """SQL-text lineage: synthesis + regexp parse + explode must all
    run narrow (no Exchange before the first partial edge agg), with
    no Python nodes, and the scan must prune to the three columns the
    statement synthesis needs."""
    df = OPS["cat_lineage_sql"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate explode" in plan
    # The narrow-parse claim is about the BOTTOM-MOST plan region: in
    # the printed tree children follow parents, so the text after the
    # LAST "Exchange hashpartitioning" occurrence is the leaf stage
    # below every shuffle (countDistinct makes this a multi-exchange
    # plan). Assert we really hold the leaf segment (it contains the
    # scan), then that synthesis+parse+partial-agg all live there, i.e.
    # before any exchange executes.
    leaf_stage = plan.split("Exchange hashpartitioning")[-1]
    assert "Scan parquet" in leaf_stage  # proves this is the leaf region
    assert "Generate" in leaf_stage  # parse stage is pre-shuffle
    assert "partial_count" in leaf_stage
    scan = scan_summary(df)
    assert "event_id" in scan and "event_type" in scan and "user_id" in scan
    assert "props" not in scan and "value" not in scan


def test_agg_pushdown_aggregates_below_join(spark, sf_dir):
    """Eager aggregation: a HashAggregate keyed on l_orderkey must
    exist (the pre-agg below the join), and the final agg keys on
    o_orderpriority — i.e. the join consumes pre-aggregated rows,
    not raw lineitem."""
    plan = physical_plan(OPS["join_agg_pushdown"].fn(spark, sf_dir))
    assert "HashAggregate(keys=[l_orderkey" in plan
    assert "HashAggregate(keys=[o_orderpriority" in plan
    # the pre-agg node appears deeper in the tree than the join node
    join_pos = max(plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"),
                   plan.find("BroadcastHashJoin"))
    prea_pos = plan.find("HashAggregate(keys=[l_orderkey")
    assert join_pos != -1 and prea_pos > join_pos


def test_phash_neardup_no_all_pairs(spark, sf_dir):
    """The image near-dup pair stage must be a band-bucket equi-join
    over DISTINCT hashes — no cartesian product and no broadcast
    nested loop anywhere in the plan (the oracle verifies rep pairs
    all-pairs; the engine must never), and the pair frame must be
    built from a hash-collapsing aggregate, not doc-level rows (the
    sf10 mega-family wall)."""
    from hive_metadata_collect_spark.llm.multimodal import (
        mm_image_phash,
        phash_band_pairs,
    )

    hashes = mm_image_phash(spark, sf_dir).select(
        "doc_id", "hash_lo", "hash_hi"
    )
    pairs = phash_band_pairs(hashes)
    plan = physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # signature collapse: the band explode must sit ABOVE a
    # hash-keyed aggregate (min doc rep), so bucket contents are
    # distinct hashes, never the raw doc stream
    assert "min(doc_id" in plan


def test_q6_scan_only_plan(spark, sf_dir):
    """TPC-H Q6 is the pure scan-filter-agg: every predicate must push
    into the parquet scan and the plan must contain no join and no
    wide Exchange (only the 1-row final-agg SinglePartition one)."""
    df = OPS["tpch_q6_forecast_revenue"].fn(spark, sf_dir)
    scan = scan_summary(df)
    assert "PushedFilters" in scan
    assert "l_shipdate" in scan and "l_discount" in scan and "l_quantity" in scan
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_q4_exists_is_semi_join(spark, sf_dir):
    """Q4's EXISTS must compile to a LeftSemi join (orders never
    duplicated into the agg), not an inner join + distinct."""
    plan = physical_plan(OPS["tpch_q4_order_priority"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "HashAggregate" in plan


def test_q16_not_in_is_anti_join(spark, sf_dir):
    """Q16's supplier NOT IN must compile to a broadcast LeftAnti join
    — never a per-row subquery or a cartesian."""
    plan = physical_plan(OPS["tpch_q16_supplier_part_diversity"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q21_decorrelation_shuffle_count(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair is decorrelated into a single-pass
    aggregate cascade: no Expand (the countDistinct-pair trap), no
    join-back to the raw lines, and exactly TWO hash exchanges — the
    one fact-width repartition on l_orderkey that serves both
    aggregations (subset rule), plus the kilobyte s_name rollup."""
    df = OPS["tpch_q21_waiting_suppliers"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 2, exchanges
    assert sum("l_orderkey" in ln for ln in exchanges) == 1
    assert sum("s_name" in ln for ln in exchanges) == 1


def test_new_composites_broadcast_dims_and_heap_sort(spark, sf_dir):
    """TPC-H Q5/Q8/Q9 composites: dimension sides broadcast; the two
    LIMIT queries compile to TakeOrderedAndProject heaps."""
    for name in (
        "tpch_q5_local_supplier_volume",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
    ):
        plan = physical_plan(OPS[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
    plan = physical_plan(OPS["tpch_q21_waiting_suppliers"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_null_skew_split_forces_merge_path_and_union(spark, sf_dir):
    """The null-split demo must exercise the big⋈big shuffle path it
    exists for (merge hint → SortMergeJoin, not broadcast) and carry
    the null leg around the join via a Union."""
    plan = physical_plan(OPS["join_null_skew_split"].fn(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "Union" in plan


def test_runtime_bloom_filter_reaches_fact_side(spark, sf_dir):
    """The bloom demo must actually inject the runtime filter: the
    optimized plan carries a might_contain probe on the fact side."""
    df = OPS["join_runtime_bloom_filter"].fn(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in optimized, optimized[:2000]


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The DPP demo's fact scan must carry a dynamicpruningexpression
    in its PartitionFilters — the predicate arrives via the join, not
    as a literal."""
    df = OPS["scan_dynamic_partition_pruning"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]


def test_spatial_nearest_never_shuffles_points(spark, sf_dir):
    """The argmin-over-broadcast-array form exists so the point set
    stays map-side: no hash-partitioning exchange anywhere (the only
    exchanges are the 1-row site array's broadcast/single-partition
    collapse), and no re-aggregation of points."""
    plan = physical_plan(OPS["join_spatial_nearest"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "HashAggregate(keys=[c_custkey" not in plan


def test_spatial_radius_is_equi_join_on_cells(spark, sf_dir):
    """Grid bucketing must plan as a plain equi hash join on the cell
    key — never a cross/nested-loop over the point sets."""
    plan = physical_plan(OPS["join_spatial_radius"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_footer_agg_pushdown_fires(spark, sf_dir):
    """The DSv2 scan must answer the stats sweep from footers: the
    plan's PushedAggregation carries all five aggregates (pushdown is
    all-or-nothing — an empty list means a full data scan)."""
    df = OPS["scan_agg_pushdown_footer"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_quantity), MIN(l_orderkey), MAX(l_orderkey)]" in plan, plan[:1500]


def test_funnel_strict_single_exchange(spark, sf_dir):
    """The state-machine fold must be ONE shuffle on user_id — no
    per-stage self-joins, no window sorts (the fold replaces both)."""
    df = OPS["cat_funnel_strict"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_token_bucket_single_exchange(spark, sf_dir):
    """Same contract for the rate-limiter automaton: one user_id
    exchange, sequential state stays inside the fold."""
    df = OPS["stream_token_bucket"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_cusum_windows_share_one_sort_order(spark, sf_dir):
    """CUSUM's prefix-sum + running-min must reuse ONE (grp, day) sort —
    two stacked Window nodes, not two independent sorts of the series.
    Exact counts (a `<=1 or <=2` disjunction would be vacuous): the
    known-good plan has exactly two Sort nodes total — one (grp) sort
    for the whole-series mean window, one (grp, day) sort shared by BOTH
    running windows — and exactly two day-ordered Window nodes above
    that single day-ordered Sort."""
    df = OPS["win_cusum_alarm"].fn(spark, sf_dir)
    plan = physical_plan(df)
    sort_lines = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert len(sort_lines) == 2, plan[:2000]
    day_sorts = [ln for ln in sort_lines if "day#" in ln]
    assert len(day_sorts) == 1, sort_lines
    day_windows = [
        ln
        for ln in plan.splitlines()
        if "Window [" in ln and "day#" in ln
    ]
    assert len(day_windows) == 2, plan[:2000]


def test_vocab_scoring_join_broadcasts(spark, sf_dir):
    """The 50-row vocabulary must broadcast into the scoring join —
    the exploded token stream never shuffles by word."""
    df = OPS["text_vocab_coverage"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_countmin_counter_joins_broadcast(spark, sf_dir):
    """All three width-64 counter frames broadcast onto the truth
    side — the sketch never becomes a shuffle join."""
    df = OPS["agg_countmin_heavy"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_bloom_index_probe_join_broadcasts(spark, sf_dir):
    """Probe set and bloom frames are metadata-sized: the probe join
    and the actual-containment join must both broadcast."""
    df = OPS["cat_bloom_skip_index"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 2
    assert "SortMergeJoin" not in plan


def test_cost_showback_size_dim_broadcasts(spark, sf_dir):
    """The |tables| size dim broadcasts onto the audit log; the fact
    shuffles only for the user rollup."""
    df = OPS["cat_query_cost_showback"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nested_schema_pruning_reaches_scan(spark, sf_dir):
    """Selecting meta.priority + meta.price must prune the wide
    meta.clerk_note leaf out of the parquet ReadSchema entirely."""
    df = OPS["scan_nested_schema_pruning"].fn(spark, sf_dir)
    scan = scan_summary(df)
    assert "priority" in scan and "price" in scan
    assert "clerk_note" not in scan


def test_twopass_median_within_bucket_sort_only(spark, sf_dir):
    """Pass 2 must rank only the located bucket — the plan carries a
    bucket filter BELOW the window sort and pushes it into the scan,
    never a full-column sort (asserted on structure, not just the
    substring)."""
    df = OPS["agg_exact_median_twopass"].fn(spark, sf_dir)
    plan = physical_plan(df)
    lines = plan.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window [row_number()" in ln]
    flt_idx = [
        i for i, ln in enumerate(lines) if "Filter (FLOOR" in ln.replace("+- ", "")
        or ("Filter" in ln and "FLOOR" in ln)
    ]
    assert win_idx and flt_idx, plan[:2000]
    # the bucket filter sits below (after, in toString order) the rank window
    assert min(flt_idx) > min(win_idx), plan[:2000]
    # and it reaches the parquet scan as a data filter
    scan_lines = [ln for ln in lines if "FileScan parquet" in ln]
    assert scan_lines and any(
        "DataFilters: [" in ln and "FLOOR" in ln for ln in scan_lines
    ), scan_lines


def test_sweep_line_single_keyed_window(spark, sf_dir):
    """Peak concurrency: one user_id-partitioned window over the
    boundary union — no join, no global sort."""
    df = OPS["win_peak_concurrency"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Union") >= 1


def test_position_delete_set_broadcasts(spark, sf_dir):
    """Merge-on-read: the delete set must broadcast into the
    anti-join; the data side never shuffles for the merge."""
    df = OPS["scan_position_deletes"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_survival_curve_single_corpus_shuffle(spark, sf_dir):
    """KM curve: the per-user lifetime rollup is the only
    corpus-sized exchange; the product folds over an array, so no
    Window and no join appear at all."""
    df = OPS["cat_survival_curve"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_join_size_estimate_sketch_join_broadcasts(spark, sf_dir):
    """The 128-slot sketch equi-join must broadcast — cardinality
    estimation never becomes a real shuffle join."""
    df = OPS["cat_join_size_estimate"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_or_join_rewrite_no_nested_loop(spark, sf_dir):
    """The disjunctive-join decomposition must produce two hash/
    broadcast equi-joins — the nested-loop fallback the rewrite
    exists to eliminate must be absent."""
    df = OPS["join_or_condition_rewrite"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") >= 2


def test_hard_negatives_one_pass_no_union(spark, sf_dir):
    """Hard-negative mining must be ONE broadcast-join + window plan —
    not a per-anchor Python loop of unioned TakeOrdered branches. The
    label inequality forces a broadcast nested-loop join; top-1 per
    anchor is a single window rank."""
    df = OPS["sim_hard_negatives"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Union" not in plan, plan[:2000]
    assert "TakeOrderedAndProject" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert plan.count("Window [row_number()") == 1, plan[:2000]
    # anchors + candidates: exactly two scans of the embeddings table
    assert plan.count("FileScan parquet") == 2, plan[:2000]


def test_asof_nearest_single_sort(spark, sf_dir):
    """join_asof_nearest's backward + forward windows must share ONE
    (user_id, ts) sort — the docstring's claim that the nearest pick
    is a free projection over the backward twin's plan. Exactly one
    Sort node, no join of any kind."""
    plan = physical_plan(OPS["join_asof_nearest"].fn(spark, sf_dir))
    sort_lines = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert len(sort_lines) == 1, sort_lines
    assert "Join" not in plan, plan[:2000]


def test_dedup_rate_curve_no_python_single_scan(spark, sf_dir):
    """The four-granularity digest stack must stay JVM-side and read
    the corpus ONCE (four digests are projection columns, not four
    passes)."""
    df = OPS["pipeline_dedup_rate_curve"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FileScan") == 1, plan[:2000]


def test_gopher_rules_map_only(spark, sf_dir):
    """The Gopher filter battery is one projection over one scan — no
    Exchange, no Python, integer-only rule math."""
    df = OPS["text_gopher_quality_rules"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Exchange" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FileScan") == 1, plan[:2000]


def test_c4_rules_map_only(spark, sf_dir):
    """C4 line retention runs via array higher-order filters — one
    scan, no explode-shuffle, no Python."""
    df = OPS["text_c4_cleaning_rules"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Exchange" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FileScan") == 1, plan[:2000]


def test_dup_line_fraction_partial_agg_exchanges(spark, sf_dir):
    """Two keyed exchanges, both keyed on doc_id(+line), and BOTH fed
    by map-side partial HashAggregates — raw exploded lines never ride
    a shuffle."""
    df = OPS["text_dup_line_fraction"].fn(spark, sf_dir)
    plan = physical_plan(df)
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 2, exchanges
    assert all("doc_id" in ln for ln in exchanges)
    assert plan.count("HashAggregate") == 4  # partial+final × two aggs


def test_tpch_q2_shape(spark, sf_dir):
    """Q2: the correlated min-cost subquery must be a window min (no
    self-join of the supply relation), dimensions broadcast, top-100
    via TakeOrderedAndProject."""
    df = OPS["tpch_q2_min_cost_supplier"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("Window [min(") == 1, plan[:2000]


def test_tpch_q11_threshold_broadcast(spark, sf_dir):
    """Q11's global threshold is a 1-row broadcast onto the per-part
    values — no second scan-side shuffle, no cartesian of any width
    beyond the nested-loop against one row."""
    df = OPS["tpch_q11_important_stock"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_reservoir_sample_single_exchange(spark, sf_dir):
    """Bottom-k-by-hash sampling is one shuffle on the group key and a
    running row_number — no global sort, no second exchange."""
    df = OPS["agg_reservoir_sample"].fn(spark, sf_dir)
    plan = physical_plan(df)
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1, exchanges
    assert "o_orderpriority" in exchanges[0]


def test_autocorr_no_self_join(spark, sf_dir):
    """All three lags come from ONE window pass pivoted by explode —
    the plan may not contain any join, and only the window sort plus
    the moment aggregation shuffle."""
    df = OPS["win_autocorr_profile"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Window [") == 1, plan[:2000]


def test_ohlc_no_window_sort(spark, sf_dir):
    """OHLC is ONE partial-aggregated exchange — min_by/max_by over a
    string sort key, never a windowed sort."""
    df = OPS["win_ohlc_resample"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan, plan[:2000]
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1, exchanges
    # min_by/max_by must run two-phase (map-side partial before the
    # exchange); node flavor varies (ObjectHash/Sort aggregate)
    assert "partial_min_by" in plan, plan[:2000]


def test_power_iteration_corpus_touched_once(spark, sf_dir):
    """The corpus appears only in the Gram-matrix stage: one FileScan
    of embeddings; every v <- C.v step is a broadcast join (the 64-row
    vector), never a shuffle of the matrix."""
    df = OPS["sim_power_iteration_top_pc"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the Gram matrix is persisted: every consumer reads the cache
    # (InMemoryRelation prints its child FileScan, so count cache
    # scans, not FileScan text)
    assert plan.count("InMemoryTableScan") >= 3, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2  # the C·v steps
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rake_phrases_collapse_before_fanout(spark, sf_dir):
    """RAKE's word fan-out runs over the COLLAPSED distinct-phrase
    table (phrase counts aggregate first); top-20 is
    TakeOrderedAndProject, and everything stays JVM-side."""
    df = OPS["text_rake_keywords"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # phrase counts are persisted; both consumers (word stats, score
    # join-back) read the cache instead of re-scanning the corpus
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]


def test_tpch_q2_semi_reduction_below_agg(spark, sf_dir):
    """Q2 rewrite: BOTH broadcast dims must sit BELOW the
    (partkey, suppkey) aggregate — the fact is semi-reduced before the
    expensive groupBy — and the agg shuffle carries keys+cost only
    (no supplier strings ride the exchange)."""
    df = OPS["tpch_q2_min_cost_supplier"].fn(spark, sf_dir)
    plan = physical_plan(df)
    lines = plan.splitlines()
    first_agg = next(
        i for i, l in enumerate(lines) if "HashAggregate" in l
    )
    # Two broadcast joins (part keys + EUROPE suppliers) appear in the
    # subtree BELOW the first (final-mode) aggregate.
    below = "\n".join(lines[first_agg:])
    assert below.count("BroadcastHashJoin") >= 2, plan[:3000]
    for line in lines:
        if "Exchange hashpartitioning" in line and "l_partkey" in line:
            assert "s_name" not in line and "n_name" not in line, line


def test_geohash_no_python_single_window_exchange(spark, sf_dir):
    """Geohash encoding is pure JVM bit arithmetic: no Python/Arrow
    eval nodes, and the only exchange is the cell-prefix window."""
    df = OPS["fn_geohash_encode"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    assert "BatchEvalPython" not in plan, plan[:2000]
    n_ex = sum(
        1
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
    )
    assert n_ex == 1, plan[:3000]
    assert "Window" in plan


def test_ks_test_domain_collapse_before_window(spark, sf_dir):
    """agg_ks_test's ECDF window must run over the collapsed value
    DOMAIN, not the event rows: a HashAggregate sits below the Window,
    and no Python node exists anywhere."""
    df = OPS["agg_ks_test"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan, plan[:2000]
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    # formatted plans list operators root-first: the Window consumes
    # the aggregate, so the aggregate that builds the domain must
    # appear BELOW (after) the window node in the printout
    assert agg_pos != -1 and win_pos != -1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_pmi_pairs_map_only_no_self_join(spark, sf_dir):
    """text_pmi_cooccurrence generates word pairs via posexplodes on
    the per-doc array — there must be NO doc-keyed SortMergeJoin; the
    df joins are broadcasts and top-20 is TakeOrderedAndProject."""
    df = OPS["text_pmi_cooccurrence"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Generate" in plan  # the posexplode pair fan-out
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_naive_bayes_model_broadcasts(spark, sf_dir):
    """text_naive_bayes_lang's model tables (observed-pair log-counts,
    5-row class dim) broadcast onto the doc frames — no SortMergeJoin
    in the scoring path, no Python anywhere."""
    df = OPS["text_naive_bayes_lang"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmeans_centroids_broadcast_assignment(spark, sf_dir):
    """sim_kmeans_lloyd's assignment joins must broadcast the K-by-64
    centroid frame onto the corpus (never shuffle the vectors into a
    SortMergeJoin), and the exploded vector table is cache-reused
    across iterations."""
    df = OPS["sim_kmeans_lloyd"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "InMemoryTableScan" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_perplexity_filter_lm_broadcast_single_token_pass(spark, sf_dir):
    """pipeline_perplexity_filter joins the vocab-sized LM back onto
    tokens as a broadcast; no SortMergeJoin, no Python."""
    df = OPS["pipeline_perplexity_filter"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_basket_lift_map_only_pairs(spark, sf_dir):
    """agg_market_basket_lift emits pairs via posexplodes over the
    per-basket array (Generate nodes), never a basket-keyed
    SortMergeJoin; support joins broadcast; top-20 is
    TakeOrderedAndProject."""
    df = OPS["agg_market_basket_lift"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "Generate" in plan and "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_term_filter_reaches_scan_side(spark, sf_dir):
    """text_bm25_search's tf aggregate filters tokens to the 3-term
    query before any join (an In predicate over the exploded words),
    df/doclen broadcast, top-10 TakeOrderedAndProject, no Python."""
    df = OPS["text_bm25_search"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "spark" in plan and "join" in plan  # the literal IN list
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dead_column_broadcast_anti_join(spark, sf_dir):
    """cat_dead_column_detect's anti-join must broadcast (either
    side of a schema-vs-distinct-refs join is tiny); no
    SortMergeJoin, no Python nodes."""
    df = OPS["cat_dead_column_detect"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hdr_buckets_collapse_before_window(spark, sf_dir):
    """agg_hdr_percentile_estimate's cumulative window runs over the
    ~150-row bucket frame (aggregate below the Window), and the op
    stays JVM-side."""
    df = OPS["agg_hdr_percentile_estimate"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan and "HashAggregate" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_pairs_cluster_keyed(spark, sf_dir):
    """sim_semdedup's pair stage is one Arrow group per CLUSTER (the
    per-cell BLAS Gram — the paper's own computation unit):
    FlatMapGroupsInPandas keyed on label, never a CartesianProduct /
    BroadcastNestedLoopJoin (the all-pairs shape SemDeDup exists to
    avoid), and no row-at-a-time Python."""
    df = OPS["sim_semdedup"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan


def test_dup_ngram_coverage_gram_index_join(spark, sf_dir):
    """text_dup_ngram_coverage: the 8-gram fan-out is a Generate and
    the df index joins back gram-keyed — no Python, no cartesian."""
    df = OPS["text_dup_ngram_coverage"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Generate" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sorted_neighborhood_bucketed_window(spark, sf_dir):
    """dedup_sorted_neighborhood ranks inside bucket partitions (a
    partitioned Window, never a single global sort partition) and the
    neighbor join carries the bucket equi-key — no cartesian."""
    df = OPS["dedup_sorted_neighborhood"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan, plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ndcg_queries_broadcast_corpus_stationary(spark, sf_dir):
    """sim_ndcg_eval: the 5-query side broadcasts onto the corpus (no
    SortMergeJoin anywhere — the corpus never shuffles for scoring;
    the only exchanges are the per-query rank partitions)."""
    df = OPS["sim_ndcg_eval"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_point_in_polygon_edges_broadcast(spark, sf_dir):
    """join_point_in_polygon: the edge table is a broadcast metadata
    relation; the parity reduce is a HashAggregate (map-side
    combinable) and nothing shuffles the points into a sort-merge."""
    df = OPS["join_point_in_polygon"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_slope_domain_collapse_before_window(spark, sf_dir):
    """win_rolling_regression_slope: the (priority, day) aggregate
    sits below the rolling window — the window sorts the calendar
    domain, never the order rows. No Python."""
    df = OPS["win_rolling_regression_slope"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan, plan[:2000]
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_theil_sen_pairs_after_monthly_collapse(spark, sf_dir):
    """agg_theil_sen_slope: the quadratic pair join runs on the
    calendar-collapsed monthly frame (HashAggregate below the join),
    never on raw orders; no Python."""
    df = OPS["agg_theil_sen_slope"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bh_fdr_single_rank_window(spark, sf_dir):
    """cat_bh_fdr operates on hypothesis-count rows: one rank window,
    a 1-row k aggregate broadcast back, no Python."""
    df = OPS["cat_bh_fdr"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hamming_topk_packed_map_only_take_ordered(spark, sf_dir):
    """sim_hamming_topk_packed: sign packing is a pure-Catalyst
    per-row fold and the top-10 a TakeOrderedAndProject — no Python
    stage, no shuffle of the corpus, no Window."""
    df = OPS["sim_hamming_topk_packed"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


def test_q21_bucketed_no_fact_exchange(spark, sf_dir):
    """tpch_q21_bucketed: the bucketBy(l_orderkey) layout must feed
    the per-(order,supplier) cascade with NO hash exchange on the
    fact side — the one wide shuffle the unbucketed form pays. Only
    broadcast exchanges and the kilobyte s_name rollup may shuffle."""
    df = OPS["tpch_q21_bucketed"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan[:3000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contract_check_referential_no_forced_broadcast(spark, sf_dir):
    """cat_data_contract_check: the referential probe carries NO
    broadcast hint (customer is fact-sized at 100 TB); locally AQE still
    converts the tiny keyset to a broadcast join, but the logical plan
    must not force it. Counting aggregates everywhere, no Python, no
    nested-loop join."""
    df = OPS["cat_data_contract_check"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "ResolvedHint" not in df._jdf.queryExecution().logical().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_holt_fold_window_free(spark, sf_dir):
    """win_holt_linear folds the sorted monthly array per key — NO
    Window operator (the sequential state lives in F.aggregate), no
    Python, and the series is domain-collapsed before the fold."""
    df = OPS["win_holt_linear"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan, plan[:2000]
    assert "HashAggregate" in plan or "SortAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_epochs_map_only_single_rollup(spark, sf_dir):
    """pipeline_mixture_epochs is a projection plus ONE source-keyed
    rollup: no joins of any kind, no Python."""
    df = OPS["pipeline_mixture_epochs"].fn(spark, sf_dir)
    plan = physical_plan(df)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_seasonal_decompose_one_window_pass(spark, sf_dir):
    """win_seasonal_decompose: both ROWS frames share one sort — a
    single Window node computes frame13 + frame11; the monthly
    collapse sits below it; no Python."""
    df = OPS["win_seasonal_decompose"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Window") == 1, plan[:2000]
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cross_correlation_domain_collapse_before_lag_join(spark, sf_dir):
    """agg_cross_correlation: the lag sweep joins day-keyed DOMAIN
    rows (HashAggregate below the join, 7-row lag dim broadcast);
    no cartesian on data-sized inputs, no Python."""
    df = OPS["agg_cross_correlation"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spearman_nation_partitioned_ranks(spark, sf_dir):
    """agg_spearman_corr: rank windows partition by nation (no
    single-partition global sort), spend collapses before ranking,
    no Python."""
    df = OPS["agg_spearman_corr"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan, plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_distinct_users_no_fanout(spark, sf_dir):
    """win_rolling_distinct_users: the WAU curve must come from the
    interval sweep-line (distinct user-days → per-user island merge →
    boundary deltas), never a day×activity range join — no join of
    two data-sized inputs, no Python."""
    df = OPS["win_rolling_distinct_users"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_substring_spans_single_gram_exchange(spark, sf_dir):
    """dedup_substring_spans: the gram inverted index is the only
    data-sized join (left_semi on the gram key); islands run per-doc
    windows — no single-partition window, no cartesian, no Python."""
    df = OPS["dedup_substring_spans"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_iceberg_snapshot_diff_linkages_broadcast(spark, sf_dir):
    """cat_iceberg_snapshot_diff: every LINKAGE join (list→snapshot,
    entry→list, live→parent-map) broadcasts a metadata-sized frame;
    the only shuffle joins are the full-outer inventory diff itself
    and the final summary attach — keyed on (snapshot, file_path),
    i.e. file-count-sized, which is the correct shape at a
    billion-file table (full outer cannot broadcast in Spark)."""
    df = OPS["cat_iceberg_snapshot_diff"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 5, plan[:2000]
    assert "FullOuter" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_grouping_sets_expand_sits_on_preagg(spark, sf_dir):
    """The grouping-sets Expand must run
    over the eager (status, priority, task) pre-aggregate, never the
    fact scan — in the printed plan (root-first) a HashAggregate pair
    must appear BETWEEN the Expand and the FileScan. Same shape for
    rollup/cube."""
    for name in ("agg_grouping_sets", "agg_rollup", "agg_cube"):
        plan = physical_plan(OPS[name].fn(spark, sf_dir))
        assert "Expand" in plan, name
        below_expand = plan[plan.index("Expand"):]
        assert "FileScan" in below_expand, name
        between = below_expand[: below_expand.index("FileScan")]
        assert "HashAggregate" in between, (
            f"{name}: Expand sits directly on the scan\n{plan[:2000]}"
        )


def test_count_distinct_bitmap_route_no_expand(spark, sf_dir):
    """The integer-key distinct counts run
    as word-bitmap aggregates — no Catalyst Expand (the ×3 row
    widening of the countDistinct plan), and the whole pipeline must
    stay in codegen HashAggregate: no SortAggregate (what Spark 4's
    binary-buffer bitmap_construct_agg degrades to) and no
    ObjectHashAggregate."""
    plan = physical_plan(OPS["agg_count_distinct"].fn(spark, sf_dir))
    assert "Expand" not in plan, plan[:2000]
    assert "bit_or" in plan, plan[:2000]
    assert "SortAggregate" not in plan, plan[:2000]
    assert "ObjectHashAggregate" not in plan, plan[:2000]


def test_pricing_summary_partials_are_int64(spark, sf_dir):
    """The Q1-shape hot path accumulates
    int64 cents — the partial aggregate over the scan must carry
    sum(...bigint...) expressions and NO decimal sums; decimal
    appears only in the |groups|×|tasks| merge above."""
    plan = physical_plan(OPS["agg_pricing_summary"].fn(spark, sf_dir))
    scan_side = plan[plan.index("FileScan") - 2000 : plan.index("FileScan")]
    first_partial = plan.rindex("partial_")  # deepest partial = scan-side
    partial_line = plan[first_partial : plan.index("\n", first_partial)]
    assert "decimal" not in partial_line.lower(), partial_line
