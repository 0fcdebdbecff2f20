"""Physical-plan regression tests: the scale posture README claims
(pushdown, broadcast, TakeOrdered, partial agg, entity-partitioned
windows) must survive refactors — asserted against .explain output."""

from __future__ import annotations

import re

from etl_finance_spark import registry

from conftest import SF_CORRECT, explain_simple

SPECS = registry.collect()


def _formatted(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF_CORRECT)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _simple(spark, name: str) -> str:
    return explain_simple(spark, SPECS[name].fn(spark, SF_CORRECT))


def test_filter_pushdown_reaches_scan(spark):
    plan = _formatted(spark, "q_filter_range")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: only the 4 referenced columns in ReadSchema
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read


def test_dim_join_broadcasts(spark):
    plan = _simple(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_topk_compiles_to_take_ordered(spark):
    assert "TakeOrderedAndProject" in _simple(spark, "q_topk")
    assert "TakeOrderedAndProject" in _simple(spark, "q_revenue_topk")


def test_agg_partial_before_shuffle(spark):
    plan = _simple(spark, "q_agg_groupby")
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("HashAggregate")


def test_window_partitions_by_entity(spark):
    plan = _simple(spark, "q_pct_change_lag")
    assert "hashpartitioning(user_id" in plan  # never a global sort


def test_no_python_udf_in_builtin_paths(spark):
    for name in ("q_agg_groupby", "q_pct_change_lag", "q_cosine_topk",
                 "q_jaccard_pairs", "q_text_stats"):
        plan = _simple(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_events_range_scan_pushes_down(spark):
    from etl_finance_spark.catalog import events_between, table

    df = events_between(spark, SF_CORRECT, "2024-01-05", "2024-01-10")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "GreaterThanOrEqual(ts" in plan  # raw ns predicate at the scan
    # and the result matches filtering after conversion
    from pyspark.sql import functions as F

    naive = table(spark, SF_CORRECT, "events").filter(
        (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-10")
    )
    assert df.count() == naive.count() > 0


def test_cohort_retention_has_no_broadcast_hint(spark):
    """The per-user cohort map is unbounded at scale: the plan must not
    pin a broadcast via hint (VERDICT r1 #3). AQE may still broadcast at
    runtime from measured sizes — that is allowed; a static hint is not."""
    df = SPECS["q_cohort_retention"].fn(spark, SF_CORRECT)
    # the optimizer folds ResolvedHint into Join.hint before the plan
    # prints, so string-match the folded form via the hint walker — a
    # "ResolvedHint not in text" assertion never fires on any plan
    hinted = list(_broadcast_hinted_sides(df))
    assert not hinted, hinted[0].toString()


def test_asof_join_aggregates_with_partial_min(spark):
    """q_join_asof must be the min-aggregate plan (map-side partial agg),
    not the per-key window sort (VERDICT r1 #4)."""
    plan = _simple(spark, "q_join_asof")
    assert "partial_min" in plan
    assert "Window" not in plan


def test_ntile_scalable_broadcasts_cutpoints_no_global_sort(spark):
    """The scale twin of ntile: 1-row cut-point broadcast + map-side CASE;
    there must be no single-partition global window sort."""
    plan = _simple(spark, "q_win_ntile_scalable")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan


def test_corpus_prep_pushes_quality_gate_and_prunes(spark):
    """The quality gate must reach the scan as a pushed filter region
    (length computed post-scan but the plan must not read unused cols),
    and the only exchanges are the dedup groupBy + semi-join."""
    plan = _formatted(spark, "q_corpus_prep")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "lang" not in read and "source" not in read  # column pruning
    simple = _simple(spark, "q_corpus_prep")
    assert "SortMergeJoin" in simple or "BroadcastHashJoin" in simple or \
        "ShuffledHashJoin" in simple


def test_skew_distinct_two_phase_shape(spark):
    """Two HashAggregate pairs (per-salt distinct, then merge), with
    partial aggregation before each shuffle."""
    plan = _simple(spark, "q_skew_distinct")
    assert "partial_count" in plan or "partial_sum" in plan


def test_stream_pair_join_is_equi_join(spark):
    """The time band must be a post-filter on a user_id equi-join —
    never a cartesian/NestedLoop over events×events."""
    plan = _simple(spark, "q_stream_pair_join")
    assert "NestedLoop" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_stream_static_enrich_has_no_broadcast_hint(spark):
    """enrich_with_dim joins a user-profile dimension that grows with
    the user base — the library must not pin a broadcast via hint (the
    swept sf-proportional class). AQE may still broadcast per batch
    from measured sizes; a static hint is not allowed."""
    from etl_finance_spark.catalog import table
    from etl_finance_spark.streaming.joins import enrich_with_dim

    ev = table(spark, SF_CORRECT, "events")
    dim = (ev.groupBy("user_id")
           .count().withColumnRenamed("count", "n_events"))
    # same folded-hint walker as test_cohort_retention: plan text never
    # contains "ResolvedHint"/"BROADCAST", only Join.hint's
    # leftHint/rightHint=(strategy=broadcast) survives optimization
    hinted = list(_broadcast_hinted_sides(enrich_with_dim(ev, dim)))
    assert not hinted, hinted[0].toString()


def test_split_and_sample_are_map_side_only(spark):
    """Content-hash split/sample must not shuffle: no Exchange at all."""
    for name in ("q_split_deterministic", "q_stratified_sample"):
        plan = _simple(spark, name)
        assert "Exchange" not in plan, name


def test_ohlc_and_latest_aggregate_map_side(spark):
    """Open/close (min/max-of-struct) and latest-per-key must partial-
    aggregate before the shuffle — the reason they beat the window
    formulation."""
    for name in ("q_ohlc_hourly", "q_latest_per_key"):
        plan = _simple(spark, name)
        assert "partial_min" in plan or "partial_max" in plan, name
        assert "Window" not in plan, name


def test_q6_scan_filter_agg_fully_pushed(spark):
    """Q6 is the canonical pushdown probe: every comparable predicate
    reaches the parquet reader and the sum partial-aggregates."""
    plan = _formatted(spark, "q_forecast_revenue")
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read  # pruned: only the 4 used columns
    assert "partial_sum" in _simple(spark, "q_forecast_revenue")


def test_market_share_broadcasts_all_dims(spark):
    """Q8: the only sort-merge/shuffle join may be orders-lineitem;
    every dim side must be broadcast."""
    plan = _simple(spark, "q_market_share")
    assert plan.count("BroadcastHashJoin") >= 4
    # one fact-fact join at most (orderkey); never a shuffle of part/
    # supplier/customer/nation/region
    assert plan.count("SortMergeJoin") <= 1


def test_custdist_single_exchange_family(spark):
    """Q13: join and first groupBy share the custkey partitioning; the
    second aggregation must partial-aggregate map-side."""
    plan = _simple(spark, "q_custdist")
    assert "partial_count" in plan


def test_top_supplier_no_global_sort(spark):
    """Q15 picks the max-revenue supplier via a 1-row broadcast back,
    not a global window/sort over the aggregate."""
    plan = _simple(spark, "q_top_supplier")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_idle_customers_anti_join(spark):
    plan = _simple(spark, "q_idle_customers")
    assert "LeftAnti" in plan


def test_pack_contexts_partitions_by_shard(spark):
    """Packing must never global-sort: the running sum windows over the
    shard key."""
    plan = _simple(spark, "q_pack_contexts")
    assert "hashpartitioning(shard" in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """The corpus side must stream through a broadcast hash join on the
    (bounded) eval grams — never shuffle the corpus by gram text."""
    plan = _simple(spark, "q_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_asof_events_single_user_shuffle_no_join(spark):
    """The union+fill-forward asof never joins: one window over
    user_id is the whole plan."""
    plan = _simple(spark, "q_join_asof_events")
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan


def test_pagerank_lineage_cut_and_mass_conserved(spark):
    """The returned frame must sit on a checkpoint (bounded plan after
    3 iterations — the un-cut lineage grows per pass), and total rank
    mass must stay 1 (the power iteration preserves a distribution:
    teleport mass + damped neighbor mass, symmetric graph, no dangling
    nodes)."""
    plan = _simple(spark, "q_pagerank")
    assert "Scan ExistingRDD" in plan  # localCheckpoint'ed result
    total = (
        SPECS["q_pagerank"].fn(spark, SF_CORRECT)
        .agg({"pagerank": "sum"}).collect()[0][0]
    )
    assert abs(total - 1.0) < 1e-6, total


def test_event_transitions_shares_user_window_shuffle(spark):
    plan = _simple(spark, "q_event_transitions")
    assert "hashpartitioning(user_id" in plan
    assert "partial_count" in plan


def test_ohlc_daily_reagg_two_partial_agg_passes(spark):
    """Both the hourly and the daily aggregation must partial-aggregate
    before their exchanges (the re-aggregation is lossless AND cheap)."""
    plan = _simple(spark, "q_ohlc_daily_reagg")
    assert plan.count("partial_min") >= 2


def test_pricing_summary_single_codegen_scan(spark):
    """Q1: predicate pushed to parquet, partial aggs before the one
    tiny exchange — the whole query is scan + fused agg."""
    plan = _formatted(spark, "q_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    simple = _simple(spark, "q_pricing_summary")
    assert "partial_sum" in simple
    assert simple.count("Exchange") == 1


def test_min_cost_supplier_broadcasts_dims(spark):
    """Q2 shape: supplier/part are sf-proportional so they carry no
    forced hint (VERDICT r3); the broadcast decision moves to AQE. At
    this tiny SF the FINAL runtime plan must leave no sort-merge join
    standing: every join either becomes a measured-size broadcast or
    collapses outright (the empty p_size slice propagates
    EmptyRelation), both of which are the adaptive outcome wanted."""
    df = SPECS["q_min_cost_supplier"].fn(spark, SF_CORRECT)
    df.collect()  # AQE finalizes join strategies only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert "BroadcastHashJoin" in final or "EmptyRelation" in final


def test_supplier_cnt_anti_join_broadcasts(spark):
    plan = _simple(spark, "q_supplier_cnt")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_excess_suppliers_semi_join_chain(spark):
    plan = _simple(spark, "q_excess_suppliers")
    assert plan.count("LeftSemi") >= 2


def test_sessionize_and_scd2_single_user_exchange(spark):
    """Gaps-and-islands and the SCD2 build must ride ONE
    hashpartitioning(user_id) exchange — both windows and the rollup
    share it; nothing global, no second shuffle of the fact."""
    for name in ("q_sessionize_gaps", "q_scd2_build"):
        plan = _simple(spark, name)
        assert plan.count("hashpartitioning(user_id") >= 1, name
        assert "SinglePartition" not in plan, name


def test_dq_expectations_no_global_sort(spark):
    plan = _simple(spark, "q_dq_expectations")
    assert "BroadcastHashJoin" in plan  # referential rule anti join
    assert "partial_count" in plan or "partial_sum" in plan


def test_ewma_one_shuffle_no_udf(spark):
    plan = _simple(spark, "q_ewma")
    assert "hashpartitioning(user_id" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_embed_standardize_broadcasts_stats(spark):
    """The 64-row stats side broadcasts; the corpus itself never hits
    an exchange keyed on pos."""
    plan = _simple(spark, "q_embed_standardize")
    assert "BroadcastHashJoin" in plan


def test_finance_tier_single_entity_exchange(spark):
    """Drawdown / Bollinger / RSI: daily rollup + every window frame
    ride ONE hashpartitioning(user_id) exchange; nothing global."""
    for name in ("q_drawdown", "q_bollinger", "q_rsi"):
        plan = _simple(spark, name)
        assert plan.count("hashpartitioning(user_id") >= 1, name
        assert "SinglePartition" not in plan, name


def test_vwap_partial_agg_no_window(spark):
    """VWAP is a pure one-shuffle rollup: map-side partial sums before
    the exchange, no window operator at all."""
    plan = _simple(spark, "q_vwap")
    assert "partial_sum" in plan
    assert "Window" not in plan


def test_finance_tier2_single_entity_exchange(spark):
    """Stochastic / OBV / MACD: same contract as tier 1 — everything
    rides hashpartitioning(user_id), nothing global."""
    for name in ("q_stochastic", "q_obv", "q_macd"):
        plan = _simple(spark, name)
        assert plan.count("hashpartitioning(user_id") >= 1, name
        assert "SinglePartition" not in plan, name


def test_beta_broadcasts_market(spark):
    """q_beta: the one-row-per-day market re-agg comes back onto the
    fact via broadcast, not a second fact shuffle."""
    plan = _simple(spark, "q_beta")
    assert "BroadcastHashJoin" in plan


def test_variant_scan_prunes_and_pushes(spark):
    """q_variant_get: the modulo filter reaches the parquet scan and
    only the 3 referenced order columns are read — variant shredding
    must not widen the scan."""
    plan = _formatted(spark, "q_variant_get")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderkey" in read and "o_totalprice" in read
    assert "o_custkey" not in read and "o_orderdate" not in read


def test_pivot_multi_two_level_aggregate(spark):
    """Multi-measure pivot compiles to the (key, pivot-col) aggregate
    followed by pivotfirst — both levels partial-aggregate map-side,
    and the second Exchange moves only the already-collapsed
    |keys|×|values| cells, never raw rows."""
    plan = _simple(spark, "q_pivot_multi")
    assert "partial_pivotfirst" in plan
    assert "partial_sum" in plan
    assert plan.count("Exchange") == 2


def test_hll_sketch_partial_aggregates(spark):
    """Sketch partials combine map-side (ObjectHashAggregate partial
    pass) before any shuffle — the whole point of mergeable sketches.
    q_hll_distinct carries a companion EXACT count-distinct column for
    the error display, whose expand adds a second Exchange; the pure
    sketch rollup (q_hll_union) keeps the two-level re-aggregation at
    two Exchanges with sketch partials at both grains."""
    plan = _simple(spark, "q_hll_distinct")
    assert "ObjectHashAggregate" in plan
    assert "partial_hll_sketch_agg" in plan
    assert plan.count("Exchange") == 2  # sketch agg + exact-twin expand
    union_plan = _simple(spark, "q_hll_union")
    assert "partial_hll_sketch_agg" in union_plan
    assert "partial_hll_union_agg" in union_plan
    assert union_plan.count("Exchange") == 2  # cell grain + rollup grain


def test_python_datasource_plans_batch_scan(spark):
    """The custom source compiles to a v2 BatchScan over the planned
    partitions; the per-symbol aggregate adds the only Exchange."""
    plan = _simple(spark, "q_python_datasource")
    assert "BatchScan synthtick" in plan
    assert plan.count("Exchange") == 1


def test_aqe_coalesces_shuffle_partitions(spark):
    """AQE must collapse the configured 8 shuffle partitions down to
    the few the data actually needs (session.py enables adaptive +
    coalescePartitions) — asserted on the EXECUTED plan, which is the
    only place runtime re-planning is visible."""
    df = SPECS["q_agg_groupby"].fn(spark, SF_CORRECT)
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced" in plan


# ---------------------------------------------------------------------------
# Forced-broadcast discipline (VERDICT r3): a static F.broadcast() hint is
# only allowed on BOUNDED builds — fixed-cardinality dims (region 5 rows,
# nation 25) or global (no-grouping) aggregates, whose size is independent
# of data scale. sf-proportional sides (customer/supplier/part slices,
# fact-derived keyed aggregates, per-node degree tables) must join plain so
# AQE picks broadcast-vs-shuffle from measured sizes at whatever scale runs.

_HINT_SWEPT_QUERIES = (
    # the six sites VERDICT r3 flagged
    "q_yoy_growth", "q_regional_revenue", "q_market_share",
    "q_revenue_topk", "q_large_orders", "q_pagerank",
    # same defect class, swept in the same pass (tpch2/tpch3 dims)
    "q_top_supplier", "q_suppliers_waiting", "q_promo_revenue",
    "q_disjunctive_rev", "q_min_cost_supplier", "q_product_profit",
    "q_important_stock", "q_supplier_cnt", "q_small_qty_revenue",
    "q_excess_suppliers",
    # round-4 additions: vocabulary-sized df frame, corpus-derived
    # common-segment set
    "q_tfidf", "q_span_dedup",
)


def _lp_children(node):
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


def _lp_walk(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(_lp_children(n))


def _broadcast_hinted_sides(df):
    """Yield the logical subtree under every side a broadcast HINT pins
    (optimizer folds ResolvedHint into Join.hint — stats/AQE-chosen
    broadcasts never appear here, which is exactly the distinction)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _lp_walk(plan):
        if node.nodeName() != "Join":
            continue
        hint = node.hint().toString()
        kids = _lp_children(node)
        if "leftHint=(strategy=broadcast" in hint:
            yield kids[0]
        if "rightHint=(strategy=broadcast" in hint:
            yield kids[1]


def _is_bounded_build(subtree):
    """Bounded := a global (no-grouping => <=1 row) aggregate on the
    spine, or every leaf a fixed-cardinality dim (region/nation)."""
    for n in _lp_walk(subtree):
        if n.nodeName() == "Aggregate" and n.groupingExpressions().isEmpty():
            return True
    for n in _lp_walk(subtree):
        if _lp_children(n):
            continue
        out = n.output()
        names = [out.apply(i).name() for i in range(out.size())]
        if names and not all(c.startswith(("r_", "n_")) for c in names):
            return False
    return True


def test_no_forced_broadcast_on_unbounded_sides(spark):
    for name in _HINT_SWEPT_QUERIES:
        df = SPECS[name].fn(spark, SF_CORRECT)
        for side in _broadcast_hinted_sides(df):
            assert _is_bounded_build(side), (
                f"{name}: broadcast hint pins an sf-proportional build:\n"
                f"{side.toString()}"
            )


def test_signature_passes_are_zero_shuffle(spark):
    """Round-4 headline: MinHash/SimHash/LSH signatures and IVF routing
    never exchange the corpus — the only allowed Exchange is the 1-row
    broadcast of a packed model/plane set. (A corpus-cardinality
    shuffle here was the round-3 shape; at 100 TB it dwarfed the hash
    math it fed.)"""
    from etl_finance_spark.catalog import table
    from etl_finance_spark.llm.dedup import minhash_signatures, simhash
    from etl_finance_spark.llm.similarity import (
        ivf_assign, ivf_centroids, lsh_band_keys, with_unit_vec,
    )

    docs = table(spark, SF_CORRECT, "documents")
    emb = with_unit_vec(table(spark, SF_CORRECT, "embeddings"))

    def plan_of(df):
        return explain_simple(spark, df)

    for name, df in (
        ("minhash", minhash_signatures(docs)),
        ("simhash", simhash(docs)),
        ("lsh_bands", lsh_band_keys(emb)),
        ("ivf_assign", ivf_assign(emb, ivf_centroids(emb), 1)),
        ("ivf_assign_probe2", ivf_assign(emb, ivf_centroids(emb), 2)),
    ):
        plan = plan_of(df)
        n_ex, n_bex = plan.count("Exchange"), plan.count("BroadcastExchange")
        assert n_ex == n_bex, f"{name}: non-broadcast Exchange:\n{plan}"

    # the simhash CollapseProject barrier must survive refactors: a
    # Generate node separates the hash-array projection from the bit
    # folds (without it the token hashing re-executes once per bit)
    assert "Generate" in plan_of(simhash(docs))


def test_ann_candidate_joins_broadcast_the_query_side(spark):
    """The ANN candidate stages are broadcast-hash joins that BUILD the
    bounded query side: q_ann_lsh_topk on (band_idx, band_bits),
    q_ann_ivf_topk on cell. The low-cardinality band/cell key never
    becomes a shuffle partition key."""
    for name, key, part in (
        ("q_ann_lsh_topk", r"band_idx#\d+, band_bits#\d+L",
         "hashpartitioning(band_idx"),
        ("q_ann_ivf_topk", r"cell#\d+", "hashpartitioning(cell"),
    ):
        plan = _simple(spark, name)
        assert re.search(
            rf"BroadcastHashJoin \[{key}\], \[{key}\], Inner, BuildRight",
            plan,
        ), f"{name}:\n{plan}"
        assert part not in plan, f"{name}:\n{plan}"


def test_model_training_is_one_python_task_over_packed_sample(
        spark, monkeypatch):
    """IVF and PQ training: exactly one mapInPandas, directly over the
    global (no-grouping) aggregate that packs the bounded sample into
    one row — so the numpy trainer runs once whatever the partition
    layout — and no hash shuffle. The final lineage cut is bypassed so
    the training plan itself is visible."""
    from etl_finance_spark.catalog import table
    from etl_finance_spark.llm import pq, similarity

    emb = similarity.with_unit_vec(table(spark, SF_CORRECT, "embeddings"))
    for mod in (similarity, pq):
        monkeypatch.setattr(mod, "cut_lineage", lambda df: df)
    for name, model in (("ivf", similarity.ivf_centroids(emb)),
                        ("pq", pq.pq_train(emb))):
        maps = [n for n in _lp_walk(model._jdf.queryExecution().optimizedPlan())
                if n.nodeName() == "MapInPandas"]
        assert len(maps) == 1, name
        (child,) = _lp_children(maps[0])
        assert child.nodeName() == "Aggregate", (name, child.toString())
        assert child.groupingExpressions().isEmpty(), (name, child.toString())
        plan = explain_simple(spark, model)
        assert plan.count("MapInPandas") == 1, f"{name}:\n{plan}"
        assert "Exchange hashpartitioning" not in plan, f"{name}:\n{plan}"


def test_shared_builds_are_memoized_and_cached(spark):
    """Round-4 amortization seams: the co-purchase edge build and the
    IVF quantizer model are session-memoized — consumers read one
    materialization instead of rebuilding. Pin both halves: (a) the
    memo returns the same frame object per (app, sf_dir); (b) the edge
    consumers' physical plans read the cache (InMemoryTableScan), not a
    fresh self-join rollup."""
    from etl_finance_spark.llm.similarity import _corpus_ivf_model
    from etl_finance_spark.plans.graph import copurchase_edges

    e1 = copurchase_edges(spark, SF_CORRECT)
    e2 = copurchase_edges(spark, SF_CORRECT)
    assert e1 is e2
    assert _corpus_ivf_model(spark, SF_CORRECT) is _corpus_ivf_model(
        spark, SF_CORRECT
    )
    # materialize once, then every consumer's plan must hit the cache
    e1.count()
    plan = _simple(spark, "q_copurchase_pairs")
    # (the cached relation's originating plan is echoed inside
    # InMemoryRelation, so lineitem column names still appear in the
    # text — the InMemoryTableScan node is the signal that execution
    # reads the cache instead of re-running that subplan)
    assert "InMemoryTableScan" in plan, f"rebuilds the edges:\n{plan}"
    # q_triangle_count consumes the same cache inside its oriented-edge
    # checkpoint build; the query plan itself therefore bottoms out at
    # the checkpointed RDD, which HIDES the InMemoryTableScan from the
    # plan text. Pin the seam in two observable halves instead:
    # (a) the memoized frame really is cached (a dropped .persist()
    #     in copurchase_edges shows up here), and
    tri_edges = copurchase_edges(spark, SF_CORRECT)
    assert tri_edges.storageLevel.useMemory or \
        tri_edges.storageLevel.useDisk, "copurchase_edges no longer persists"
    # (b) q_triangle_count still builds FROM the memo (a rewrite that
    #     re-derives edges from lineitem would pass any plan-text check
    #     once the checkpoint hides lineage — catch it at the source)
    import inspect

    from etl_finance_spark.plans import analytics3
    src = inspect.getsource(analytics3.q_triangle_count)
    assert "copurchase_edges(" in src, src
    tri = _simple(spark, "q_triangle_count")
    assert "ExistingRDD" in tri, f"oriented edges not checkpointed:\n{tri}"


def test_cosine_topk_broadcasts_query_side(spark):
    """The exact cosine rung must ALWAYS broadcast the bounded query set
    and stream (rebalanced) corpus — left to size estimates the pick
    flips with cache state, and the wrong pick serializes the whole
    k x N dot-product fan-out onto the query side's 1-2 partitions."""
    plan = _simple(spark, "q_cosine_topk")
    assert "BroadcastNestedLoopJoin BuildRight" in plan, plan


def test_mega_basket_guard_bounds_pair_fanout(spark):
    """plans/graph.py MAX_BASKET: a pathological mega-order (quadratic
    pair fan-out under ONE join key — an unsplittable straggler at
    scale) is dropped before the self-join; organic baskets pass
    through untouched. min_orders=1 here so the cap is observed
    directly, not masked by the repeat threshold."""
    from etl_finance_spark.plans.graph import MAX_BASKET, edges_from_items

    rows = [(1, p) for p in range(MAX_BASKET + 1)]      # one mega-basket
    rows += [(2, 1000), (2, 1001), (3, 1000), (3, 1001)]  # organic pair
    items = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    capped = sorted(map(tuple, edges_from_items(items, min_orders=1)
                        .collect()))
    assert capped == [(1000, 1001, 2)]  # mega-basket contributed nothing
    n_mega_pairs = (MAX_BASKET + 1) * MAX_BASKET // 2
    uncapped = edges_from_items(items, min_orders=1, max_basket=10**9)
    assert uncapped.count() == 1 + n_mega_pairs


def test_recursive_bfs_edge_build_caps_mega_baskets(spark, monkeypatch):
    """q_recursive_bfs builds its edges with plans/graph.py's
    edges_from_items, so the MAX_BASKET filter sits between the basket
    aggregate and the pair explode, and the build keeps two exchanges
    per union branch (baskets by order, pairs by (p1, p2)). The lineage
    cut is bypassed so the edge build itself is visible."""
    from etl_finance_spark.plans import sql_surface
    from etl_finance_spark.plans.graph import MAX_BASKET

    built = []
    monkeypatch.setattr(sql_surface, "cut_lineage",
                        lambda df: built.append(df) or df)
    SPECS["q_recursive_bfs"].fn(spark, SF_CORRECT)
    (edges,) = built
    plan = explain_simple(spark, edges)
    assert re.search(
        rf"Filter \(size\(parts#\d+, (true|false)\) <= {MAX_BASKET}\)", plan
    ), plan
    assert plan.count("Exchange hashpartitioning") == 4, plan


def test_graph_oracles_share_the_capped_items_cte():
    """All three co-purchase consumers' oracles must interpolate the
    ONE edges-CTE string from plans/graph.py (threshold + MAX_BASKET
    guard), and q_recursive_bfs's the capped items CTE — a
    hand-rewritten oracle would silently fork the semantics the Spark
    side implements."""
    from etl_finance_spark.plans.graph import (
        EDGES_CTE_SQL, ITEMS_CTE_SQL, MAX_BASKET,
    )

    assert f"bsz <= {MAX_BASKET}" in ITEMS_CTE_SQL
    for name in ("q_copurchase_pairs", "q_pagerank", "q_triangle_count"):
        assert EDGES_CTE_SQL in SPECS[name].oracle, (
            f"{name} oracle no longer embeds the shared edges CTE"
        )
    assert ITEMS_CTE_SQL in SPECS["q_recursive_bfs"].oracle


def test_lineage_cuts_route_through_the_seam():
    """Every iterative lineage cut in the package goes through
    lineage.cut_lineage (the deployment seam: executor-local vs
    reliable checkpoint by config). A raw .localCheckpoint( call
    outside lineage.py would silently opt that operator out of
    fault-tolerant mode on clusters."""
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_finance_spark",
    )
    offenders = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            if os.path.basename(path) == "lineage.py":
                continue
            src = open(path).read()
            for i, line in enumerate(src.splitlines(), 1):
                if ".localCheckpoint(" in line:
                    offenders.append(f"{path}:{i}")
    assert not offenders, (
        "raw localCheckpoint outside lineage.py: " + ", ".join(offenders)
    )


def test_etl_loads_skip_mean_broadcast_and_target_dedup(spark, tmp_path):
    """The keyed-upsert loads keep their lean shape. Forex fills nulls
    with each currency's mean inside its per-currency window, so the
    plan has no global mean aggregate (a SinglePartition exchange) and
    no broadcast join of its result. The upsert's anti-join reads the
    target's keys as they are: its only aggregates are the incoming
    side's dedup, none over the target scan."""
    import datetime as dt

    from etl_finance_spark.operators.core import dedup_by_key, upsert_new_rows
    from etl_finance_spark.plans.forex import (
        BTC_RAW_SCHEMA, RATES_RAW_SCHEMA, align_sources, clean_forex,
        transform_forex,
    )

    rates = spark.createDataFrame(
        [(dt.date(2018, 1, 1), 0.8, None, 8.0, 6.0)], RATES_RAW_SCHEMA)
    btc = spark.createDataFrame([(dt.date(2018, 1, 2), 14000.0)], BTC_RAW_SCHEMA)
    plan = explain_simple(
        spark, transform_forex(clean_forex(align_sources(rates, btc))))
    assert "BroadcastExchange" not in plan, plan
    assert "SinglePartition" not in plan, plan

    target, landing = str(tmp_path / "target"), str(tmp_path / "landing")
    spark.createDataFrame([(1, "a")], ["k", "v"]).write.parquet(target)
    spark.createDataFrame([(1, "b"), (2, "c")], ["k", "v"]).write.parquet(landing)
    incoming = spark.read.schema("k long, v string").parquet(landing)
    keys = spark.read.schema("k long").parquet(target)
    plan = explain_simple(spark, upsert_new_rows(incoming, keys, ["k"]))
    dedup = explain_simple(spark, dedup_by_key(incoming, ["k"]))
    # Hash-, ObjectHash- and SortAggregate alike
    assert plan.count("Aggregate(") == dedup.count("Aggregate("), plan
