"""Modern SQL surface: recursive CTEs (Spark 4.x WITH RECURSIVE),
correlated LATERAL subqueries, null-distinctness semantics, and
multi-measure pivot.

These are query shapes the reference's pandas script answers with
driver-side Python loops (e.g. month-range generation is a driver loop
at /root/reference/etl.py `get_dates`); here each one is a single
declarative plan Catalyst optimizes and DuckDB mirrors verbatim.

Scale notes are per-query: recursion and lateral are the two shapes
where a naive formulation explodes at 100 TB, so each docstring states
the bound that keeps it safe and names the dedicated operator to prefer
when the bound doesn't hold (llm/clusters.py connected components,
operators/windows.py top-k).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_finance_spark.catalog import table
from etl_finance_spark.lineage import cut_lineage
from etl_finance_spark.plans.graph import basket_pairs
from etl_finance_spark.registry import register

# Shared verbatim by the Spark query and the DuckDB oracle: identical
# SQL text is the strongest possible parity statement for the recursive
# iteration semantics (seed row, per-level join expansion, UNION ALL
# accumulation, post-hoc min-depth dedup).
_BFS_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_orderkey % 10 = 0
),
bfs(pk, depth) AS (
    SELECT CAST(min(l_partkey) AS BIGINT) AS pk, 0 AS depth
    FROM lineitem WHERE l_orderkey % 10 = 0
  UNION ALL
    SELECT e.dst, b.depth + 1
    FROM bfs b JOIN edges e ON e.src = b.pk
    WHERE b.depth < 2
)
SELECT pk, CAST(min(depth) AS BIGINT) AS depth
FROM bfs GROUP BY pk
"""

_LATERAL_SQL = """
SELECT n_name, x.c_name, x.bal
FROM nation, LATERAL (
    SELECT c_name, round(c_acctbal, 2) AS bal
    FROM customer
    WHERE c_nationkey = n_nationkey
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 2
) x
"""


def _register_views(spark: SparkSession, sf_dir: str,
                    names: tuple[str, ...]) -> None:
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


_BFS_RECURSE_SQL = """
WITH RECURSIVE bfs(pk, depth) AS (
    SELECT pk, 0 AS depth FROM {seed}
  UNION ALL
    SELECT e.dst, b.depth + 1
    FROM bfs b JOIN {edges} e ON e.src = b.pk
    WHERE b.depth < 2
)
SELECT pk, CAST(min(depth) AS BIGINT) AS depth
FROM bfs GROUP BY pk
"""

_BFS_SEQ = itertools.count()


@register("q_recursive_bfs", oracle=_BFS_SQL)
def q_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability over the co-purchase graph via WITH
    RECURSIVE — seed at the smallest part in the sampled order slice,
    expand along same-order edges, keep each part's minimum depth.
    Spark 4 executes the recursion as an iterative union-of-levels
    plan, and it INLINES non-recursive CTEs into every level — so the
    loop-invariant edge list is materialized first (cut_lineage,
    the same invariant-materialization pattern as q_pagerank) and the
    recursion runs over the checkpointed view: each level is then one
    hash join against settled data instead of a re-derived self-join.
    Bounds that keep recursion sane are explicit: order-sampled edges
    (1/10), depth ≤ 2, min-depth dedup at the end. (The edge build
    here is a demonstration subgraph; a production co-purchase edge
    list comes from plans/graph.py, which also carries the MAX_BASKET
    mega-order guard on the quadratic pair fan-out.) UNBOUNDED closure
    this way is exponential in path count — full-graph reachability at
    100 TB belongs to the delta-checked connected-components fixpoint
    (llm/clusters.py:84), which this query exists to contrast. The
    oracle runs the same logic as one self-contained SQL text (DuckDB
    evaluates each CTE once, so it needs no materialization hint).
    View hygiene (ADVICE r3): the temp views get per-call unique names
    and are dropped as soon as spark.sql has (eagerly) resolved them —
    concurrent callers on a shared session can't clobber each other,
    and no session-global view pins the checkpointed edge blocks after
    the result is released."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 10 == 0
    )
    # same-order edges via per-order baskets (r14, the plans/graph.py
    # shape): one exchange builds the sorted distinct part set per
    # order, the src < dst pairs generate row-locally, the distinct is
    # the second and last exchange, and both directions come from a
    # union of the distinct canonical pairs (ReusedExchange — the swap
    # branch re-reads the same aggregate). The prior order-keyed
    # self-join + directed distinct spent three exchanges and scanned
    # the slice twice for the identical edge set.
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    canon = (
        baskets.select(F.explode(basket_pairs("src", "dst")).alias("pr"))
        .select("pr.src", "pr.dst")
        .distinct()
    )
    edges = cut_lineage(canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    k = next(_BFS_SEQ)
    ev, sv = f"bfs_edges_{k}", f"bfs_seed_{k}"
    edges.createOrReplaceTempView(ev)
    seed = li.agg(F.min("l_partkey").cast("long").alias("pk"))
    seed.createOrReplaceTempView(sv)
    out = spark.sql(_BFS_RECURSE_SQL.format(edges=ev, seed=sv))
    spark.catalog.dropTempView(ev)
    spark.catalog.dropTempView(sv)
    return out


@register("q_lateral_topn", oracle=_LATERAL_SQL)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: each nation
    row invokes a top-2-customers-by-balance probe. Catalyst rewrites
    the lateral into a ranked window under the hood (the decorrelation
    the optimizer owes us); semantics match the dedicated
    q_win_topk_per_group, which is the operator to reach for when the
    outer side is a fact table rather than a 25-row dim. Unique
    c_custkey tiebreak makes the LIMIT deterministic. Identical SQL
    text on both engines."""
    _register_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql(_LATERAL_SQL)


@register(
    "q_null_semantics",
    oracle="""
    SELECT
        (NULLIF(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F') AS ns_eq_f,
        (o_orderstatus IS DISTINCT FROM 'O') AS not_open,
        CASE WHEN NULLIF(o_orderstatus, 'P') IS NULL
             THEN 'unknown' ELSE 'known' END AS known_flag,
        coalesce(NULLIF(o_orderstatus, 'P'), 'none') AS status_or_none,
        CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY 1, 2, 3, 4
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic surface: null-safe equality (<=> /
    IS NOT DISTINCT FROM), IS DISTINCT FROM, nvl2-style presence
    branching, and coalesce fallback — grouped so the result is the
    4-row truth table with counts. This is the semantics layer under
    the reference's `.fillna` / `.dropna` calls, pinned cross-engine:
    NULL <=> 'F' is false (not NULL), NULL IS DISTINCT FROM 'O' is
    true. All derived pre-shuffle; the aggregate collapses map-side."""
    orders = table(spark, sf_dir, "orders")
    status_n = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    derived = orders.select(
        status_n.eqNullSafe(F.lit("F")).alias("ns_eq_f"),
        (~F.col("o_orderstatus").eqNullSafe(F.lit("O"))).alias("not_open"),
        F.nvl2(status_n, F.lit("known"), F.lit("unknown"))
        .alias("known_flag"),
        F.coalesce(status_n, F.lit("none")).alias("status_or_none"),
    )
    return (
        derived.groupBy(
            "ns_eq_f", "not_open", "known_flag", "status_or_none")
        .agg(F.count("*").cast("long").alias("n"))
    )


@register(
    "q_pivot_multi",
    oracle="""
    SELECT o_orderpriority,
        round(sum(CASE WHEN o_orderstatus = 'F'
                       THEN o_totalprice END), 2) AS F_rev,
        CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
             AS BIGINT) AS F_n,
        round(sum(CASE WHEN o_orderstatus = 'O'
                       THEN o_totalprice END), 2) AS O_rev,
        CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END)
             AS BIGINT) AS O_n,
        round(sum(CASE WHEN o_orderstatus = 'P'
                       THEN o_totalprice END), 2) AS P_rev,
        CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END)
             AS BIGINT) AS P_n
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE measures per cell (revenue sum + order
    count per status) — Spark names the output columns
    `{value}_{alias}`, and the oracle's conditional aggregation uses
    the same names. Pivot values are listed explicitly ('F','O','P'):
    at 100 TB an unlisted pivot forces a distinct-values pre-query
    AND breaks reproducibility when a new status appears mid-pipeline;
    listing them keeps the plan one pass and the schema stable.
    Empty-cell contract (ADVICE r3): Spark's pivot yields NULL for a
    (priority, status) cell with no rows while the oracle's
    count(CASE ...) yields 0, so the count columns coalesce to 0 here —
    both engines then agree at every scale factor (sums stay NULL on
    both sides for empty cells, which already matches)."""
    orders = table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    for s in ("F", "O", "P"):
        piv = piv.withColumn(f"{s}_n", F.coalesce(F.col(f"{s}_n"), F.lit(0)))
    return piv
