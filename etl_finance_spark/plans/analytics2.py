"""Composite analytics, third block: an iterative graph rung with an
EXACT oracle (PageRank — complements the delta-checked connected
components in llm/clusters.py, which has to stop on a data-dependent
fixpoint; PageRank's fixed iteration count unrolls into plain CTEs, so
the whole iterative-DataFrame pattern gets a hash-checked driver row),
plus growth, transition-matrix, and rollup-reaggregation shapes.

Reference provenance: none of these exist in /root/reference/etl.py —
they are the analytics its pipeline output feeds in practice (the
pct-change tables, etl.py:166-170, are the YoY query's 1-lag cousin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_spark.catalog import table
from etl_finance_spark.registry import register

PR_ITERS = 3
PR_DAMP = 0.85
# the co-purchase edges ARE the shared build's (plans/graph.py):
# importing its SQL twin keeps the unrolled-CTE oracle below from ever
# drifting from the Spark side, which reads copurchase_edges directly
from etl_finance_spark.plans.graph import EDGES_CTE_SQL as PR_EDGES_CTE


def _pagerank_oracle() -> str:
    """Unrolled PR_ITERS-step PageRank as chained CTEs — DuckDB runs the
    exact computation the Spark loop performs, so the iterative rung is
    hash-checked, not rows-only."""
    head = f"""
    WITH {PR_EDGES_CTE}, sym AS (
        SELECT p1 AS src, p2 AS dst FROM e
        UNION ALL SELECT p2, p1 FROM e
    ), nodes AS (
        SELECT DISTINCT src AS node FROM sym
    ), deg AS (
        SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg
        FROM sym GROUP BY src
    ), nn AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
    ), pr0 AS (
        SELECT node, 1.0 / n AS pr FROM nodes, nn
    )"""
    step = """, it{k} AS (
        -- pr * (1.0 / deg), NOT pr / deg: the Spark side folds the
        -- reciprocal into the edge weight once (operators/graphs.py),
        -- and a*(1/b) differs from a/b by up to 1 ulp — matching the
        -- operand shape keeps every term bit-identical across engines
        SELECT s.dst AS node, sum(p.pr * (1.0 / d.deg)) AS contrib
        FROM sym s
        JOIN pr{j} p ON p.node = s.src
        JOIN deg d ON d.node = s.src
        GROUP BY s.dst
    ), pr{k} AS (
        SELECT nodes.node,
               (1 - {damp}) / n + {damp} * coalesce(contrib, 0.0) AS pr
        FROM nodes CROSS JOIN nn
        LEFT JOIN it{k} ON it{k}.node = nodes.node
    )"""
    body = "".join(
        step.format(k=k, j=k - 1, damp=PR_DAMP)
        for k in range(1, PR_ITERS + 1)
    )
    return (
        head + body
        + f"\n    SELECT node, round(pr, 9) AS pagerank FROM pr{PR_ITERS}"
    )


@register("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph (parts linked when bought
    together in >= 2 orders), PR_ITERS fixed power iterations with
    0.85 damping. Each pass is one equi-join on src + one groupBy on
    dst — the same linear-shuffle shape as connected_components. The
    edge list, the loop-INVARIANT teleport base (nodes x 1/n), and each
    pass's ranks all cut lineage (lineage.cut_lineage — executor-local
    blocks, or reliable checkpoint() wherever a checkpoint dir is set). Materializing the invariants once matters as much as
    cutting the loop lineage: left lazy, the node-set distinct would
    re-execute inside every one of the PR_ITERS passes. 1/out-degree is
    folded into the edge weight ONCE at build time (a window over src —
    the same shuffle key the per-pass join uses), so no per-pass degree
    join and no broadcast of the node-cardinality degree table (VERDICT
    r3: that broadcast grows with |nodes| — an OOM class at 100 TB).
    Nothing ever collects to the driver. The graph is symmetric so no
    dangling-mass term is needed (every node has out-degree >= 1).
    Reads the session's shared co-purchase graph build (plans/graph.py)
    — one materialization serves this, q_copurchase_pairs and
    q_triangle_count. The algorithm itself
    is :func:`etl_finance_spark.operators.graphs.pagerank`
    (property-tested against a Python power-iteration reference)."""
    from etl_finance_spark.operators.graphs import pagerank
    from etl_finance_spark.plans.graph import copurchase_edges

    edges = copurchase_edges(spark, sf_dir).select("p1", "p2")
    sym = edges.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).union(
        edges.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    pr = pagerank(sym, PR_DAMP, PR_ITERS)
    return pr.select("node", F.round("pr", 9).alias("pagerank"))


@register(
    "q_yoy_growth",
    oracle="""
    WITH r AS (
        SELECT c_mktsegment AS seg,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY 1, 2
    )
    SELECT seg, yr, revenue,
           round((revenue - lag(revenue) OVER w) / lag(revenue) OVER w, 6)
               AS yoy
    FROM r WINDOW w AS (PARTITION BY seg ORDER BY yr)
    """,
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per market segment: aggregate to
    (segment, year), then a 1-lag ratio within segment — the window
    runs over the tiny aggregate (|segments| x |years| rows), never the
    fact. Revenue rounds to 2dp BEFORE the ratio so both engines lag
    the identical value (SURVEY §7.3 item 4). First year per segment
    is NULL growth on both sides. The orders⋈customer join carries NO
    broadcast hint: customer is sf-proportional (VERDICT r3), so the
    choice is left to AQE's measured sizes at whatever scale runs."""
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.year("o_orderdate").cast("long").alias("yr")
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    r = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("seg", "yr")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("seg").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return r.select(
        "seg", "yr", "revenue",
        F.round(F.try_divide(F.col("revenue") - prev, prev), 6).alias("yoy"),
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts), event_id
               ) AS prev
        FROM events
    )
    SELECT prev, event_type AS next, count(*) AS n
    FROM s WHERE prev IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive event types per
    user — the behavioral-model input the funnel/session queries imply.
    One user-partitioned lag window (unique event_id tiebreak) + one
    grouped count over the 25-cell transition matrix: the count
    partial-aggregates map-side, so the only real shuffle is the
    window's user_id sort — shared with every other per-user window."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    )
    return (
        s.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_ohlc_daily_reagg",
    oracle="""
    WITH e AS (
        SELECT event_type, value,
               date_trunc('day', date_trunc('microseconds', ts)) AS d,
               row_number() OVER (
                   PARTITION BY event_type,
                                date_trunc('day', date_trunc('microseconds', ts))
                   ORDER BY date_trunc('microseconds', ts), event_id
               ) AS rn_a,
               row_number() OVER (
                   PARTITION BY event_type,
                                date_trunc('day', date_trunc('microseconds', ts))
                   ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC
               ) AS rn_d
        FROM events WHERE value IS NOT NULL
    )
    SELECT CAST(floor(epoch(d)) AS BIGINT) AS day_start,
           event_type,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n
    FROM e
    GROUP BY 1, 2
    """,
)
def q_ohlc_daily_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup re-aggregation (the hypertable/continuous-aggregate
    pattern): DAILY candles computed FROM the hourly candles — open of
    the first hour, close of the last, max/min/sum of the partials —
    while the oracle computes daily directly from raw events. Hash
    equality proves the OHLC aggregate re-aggregates losslessly, which
    is exactly what lets a 100 TB deployment keep only hourly rollups
    and serve every coarser granularity from them (reading ~1/3600th
    of the raw data). Both aggregations are single groupBy passes with
    map-side partials; open/close ride min/max-of-struct keyed by
    hour_start."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = F.date_trunc("hour", F.col("ts"))
    hourly = (
        ev.groupBy("event_type", h.alias("h"))
        .agg(
            F.min(F.struct("ts", "event_id", "value")).getField("value")
            .alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "event_id", "value")).getField("value")
            .alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    d = F.date_trunc("day", F.col("h"))
    return (
        hourly.groupBy("event_type", d.alias("d"))
        .agg(
            F.min(F.struct("h", "open")).getField("open").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max(F.struct("h", "close")).getField("close").alias("close"),
            F.sum("n").alias("n"),
        )
        .select(
            F.unix_timestamp("d").alias("day_start"),
            "event_type", "open", "high", "low", "close", "n",
        )
    )
