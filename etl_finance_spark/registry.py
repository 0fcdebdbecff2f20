"""Query registry — single source of truth for the declared surface.

Every operator from SURVEY.md §2 that is implemented-and-verified gets a
``@register("q_name", oracle=...)`` entry next to its implementation.
``__spark_entry__.py`` (the driver contract) and the differential tests
both read from here, so the declared set can never drift from the tested
set.

``oracle=None`` marks a WEAK query (not SQL-expressible / nondeterministic);
the driver then records a rows-only check.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB, or None for WEAK


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries, imported by collect(). An import error
# in any of them propagates: a silently partial surface would drop its
# queries from the driver's run without a trace. Import order does not
# decide the driver's correctness window — _DRIVER_WINDOW below does,
# explicitly and per-query.
_QUERY_MODULES = (
    "etl_finance_spark.llm.dedup",
    "etl_finance_spark.llm.similarity",
    "etl_finance_spark.llm.textstats",
    "etl_finance_spark.streaming.windows",
    "etl_finance_spark.operators.setops",
    "etl_finance_spark.operators.reshape",
    "etl_finance_spark.functions.udfs",
    "etl_finance_spark.operators.aggregates",
    "etl_finance_spark.llm.multimodal",
    "etl_finance_spark.llm.clusters",
    "etl_finance_spark.llm.quality",
    "etl_finance_spark.streaming.joins",
    "etl_finance_spark.functions.families",
    "etl_finance_spark.plans.analytics",
    "etl_finance_spark.operators.windows",
    "etl_finance_spark.operators.core",
    "etl_finance_spark.operators.joins",
    "etl_finance_spark.plans.flagship",
    "etl_finance_spark.plans.tpch2",
    "etl_finance_spark.llm.corpus",
    "etl_finance_spark.plans.analytics2",
    "etl_finance_spark.plans.tpch3",
    "etl_finance_spark.plans.analytics3",
    "etl_finance_spark.llm.mlprep",
    "etl_finance_spark.plans.finance",
    "etl_finance_spark.operators.sketches",
    "etl_finance_spark.functions.semistructured",
    "etl_finance_spark.sources.pysource",
    "etl_finance_spark.plans.sql_surface",
    "etl_finance_spark.operators.heavyhitters",
    "etl_finance_spark.operators.incremental",
    "etl_finance_spark.llm.pq",
    "etl_finance_spark.streaming.ingest",
    "etl_finance_spark.sources.sinks",
)

# The driver oracle-checks exactly the FIRST ~50 names in the order
# queries()/oracle_sql() iterate, so collect() re-orders its output:
# the names below come first (in this order), everything else follows
# in registration order.
#
# Round-14 composition (exactly 50, derived by `python
# scripts/plan_window.py --recheck q_copurchase_pairs,
# q_triangle_count,q_pagerank,q_jaccard_pairs,q_ngram_jaccard,
# q_minhash_lsh,q_jaccard_prefix,q_dedup_clusters,q_span_dedup,
# q_decontaminate,q_repetition_score,q_supplier_cnt,q_recursive_bfs,
# q_dq_expectations` from CORRECTNESS_r01-r13): 1 flagship; 0 reds
# (zero-red since r06);
# 14 changed-file re-checks — the r14 OPTIMIZATION-round plan
# restructures, every one diffcheck-proven result-identical before
# landing (OPTIMIZATION_r14.md: the collect_set edge build shared by
# the three graph queries, the word_ngrams/minhash/span_dedup/
# repetition HOF barriers, q_minhash_lsh's explicit band_rows, the
# carry-n Jaccard experiment REVERTED in-session (so those queries'
# final plans match r13 up to the barriers — re-checked anyway), the
# connected-components monotone-sum probe, the supplier_cnt
# pre-distinct drop, the BFS basket edge build, the dq_expectations
# scan fusion); 0
# never-checked; then the 35-slot STALENESS FILL — the remaining
# r09-evidence queries, then the oldest r10, oldest round then
# registration order. After this round no query's driver evidence is
# older than r10 (the r13-verdict item-3 target).
_DRIVER_WINDOW = (
    # flagship — the shim's entry() query, always first
    "q_pct_change_hourly",
    # changed-file re-checks (14) — r14 optimization restructures
    "q_copurchase_pairs",
    "q_triangle_count",
    "q_pagerank",
    "q_jaccard_pairs",
    "q_ngram_jaccard",
    "q_minhash_lsh",
    "q_jaccard_prefix",
    "q_dedup_clusters",
    "q_span_dedup",
    "q_decontaminate",
    "q_repetition_score",
    "q_supplier_cnt",
    "q_recursive_bfs",
    "q_dq_expectations",
    # staleness fill (35): the remaining r09-evidence queries first,
    # then the oldest r10 — oldest round, then registration order
    "q_regional_revenue",
    "q_large_orders",
    "q_two_nation_volume",
    "q_returned_revenue_topk",
    "q_ohlc_hourly",
    "q_session_stats",
    "q_snapshot_apply",
    "q_mad_outliers",
    "q_retention_matrix",
    "q_interarrival",
    "q_win_ntile_scalable",
    "q_win_lead",
    "q_win_first_last",
    "q_fill_forward",
    "q_win_range_frame",
    "q_win_pct_rank",
    "q_topk",
    "q_win_topk_per_group",
    "q_zscore",
    "q_win_cume_dist",
    "q_interpolate_linear",
    "q_time_range_scan",
    "q_profile_events",
    "q_join_inner",
    "q_revenue_topk",
    "q_join_asof_events",
    "q_forecast_revenue",
    "q_market_share",
    "q_shipmode_priority",
    "q_custdist",
    "q_promo_revenue",
    "q_top_supplier",
    "q_dedup_text",
    "q_text_stats",
    "q_stream_tumbling",
)

# Rotation bookkeeping. Surface closed at 220 in round 6; every query
# has a CORRECTNESS_r* row (hash-green, or rows-only for the WEAK
# oracle=None set) and the ledger has been zero-red since r06. The
# per-round window budget: flagship + any red rechecks + changed-file
# re-checks (--recheck) + newly declared queries (a new query enters
# the same round's window or doesn't get declared) + staleness fill
# (oldest driver evidence first) to the full 50.
#
# `python scripts/plan_window.py [--recheck a,b]` derives the next
# rotation from the recorded CORRECTNESS_r*.json evidence (reds,
# rechecks, never-checked, then staleness fill) and refuses any window
# whose EXACT oracles return collection-typed columns — run it at
# round start.


def _window_order(registered: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    """Priority names first (skipping any not registered), then the rest
    in registration order."""
    out: dict[str, QuerySpec] = {}
    for name in _DRIVER_WINDOW:
        if name in registered:
            out[name] = registered[name]
    for name, spec in registered.items():
        if name not in out:
            out[name] = spec
    return out


def register(name: str, oracle: str | None):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the surface."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle)
        return fn

    return deco


def collect() -> dict[str, QuerySpec]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return _window_order(dict(_REGISTRY))


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in collect().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in collect().items()
        if spec.oracle is not None
    }
