"""Composite analytics, fourth block: the warehouse/ops staples still
missing after the TPC-H sweep — gaps-and-islands sessionization, SCD2
dimension build, data-quality expectation gates, graph triangle count,
and an EWMA smoother (the "operator Spark lacks" rung, built as a HOF
left-fold that both engines execute with bit-identical arithmetic).

Reference provenance: none in /root/reference/etl.py — these are the
warehouse-side consumers of the pipelines the reference ships.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_spark.catalog import table
from etl_finance_spark.plans.graph import EDGES_CTE_SQL as _GRAPH_EDGES_CTE
from etl_finance_spark.registry import register

SESSION_GAP_S = 1800  # 30-minute inactivity closes a session
EWMA_ALPHA = 0.3


@register(
    "q_sessionize_gaps",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(date_trunc('microseconds', ts))) AS BIGINT)
                   AS sec
        FROM events
    ), marked AS (
        SELECT user_id, event_id, sec,
               CASE WHEN sec - lag(sec) OVER w IS NULL
                         OR sec - lag(sec) OVER w > {SESSION_GAP_S}
                    THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ), numbered AS (
        SELECT user_id, sec,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY sec, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(sec) AS start_s, max(sec) AS end_s,
           max(sec) - min(sec) AS duration_s
    FROM numbered GROUP BY user_id, session_id
    """,
)
def q_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization — the pure-window formulation
    (lag -> boundary flag -> running sum), complementing the
    session_window-based q_session_stats: this shape generalizes to any
    island definition (value changes, gap thresholds, mixed rules),
    not just time gaps. Both windows and the final groupBy share ONE
    hashpartitioning(user_id) exchange; nothing global. Gap math in
    whole epoch seconds (the q_interarrival pattern) so both engines
    compare identical integers. Every window — the lag AND the running
    sum — carries the event_id tiebreak: same-second events otherwise
    split or merge sessions depending on engine-internal tie order
    (observed live at sf0.1, user 1061)."""
    from etl_finance_spark.operators.windows import sessionize_gaps

    ev = table(spark, sf_dir, "events")
    numbered = sessionize_gaps(
        ev.select("user_id", "event_id", F.unix_timestamp("ts").alias("sec")),
        "user_id", "sec", "event_id", SESSION_GAP_S,
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("sec").alias("start_s"),
        F.max("sec").alias("end_s"),
        (F.max("sec") - F.min("sec")).alias("duration_s"),
    )


@register(
    "q_scd2_build",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(date_trunc('microseconds', ts))) AS BIGINT)
                   AS sec
        FROM events
    ), marked AS (
        SELECT user_id, event_id, event_type, sec,
               CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS chg
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ), versioned AS (
        SELECT user_id, event_type, sec,
               CAST(sum(chg) OVER (
                   PARTITION BY user_id ORDER BY sec, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        FROM marked
    ), spans AS (
        SELECT user_id, version,
               any_value(event_type) AS event_type,
               min(sec) AS valid_from
        FROM versioned GROUP BY user_id, version
    )
    SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY version) AS valid_to,
           CAST(CASE WHEN lead(valid_from) OVER (
                    PARTITION BY user_id ORDER BY version) IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM spans
    """,
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change log: collapse each
    user's consecutive identical attribute values (event_type standing
    in for the tracked attribute) into versioned validity spans with
    [valid_from, valid_to) ranges and a current-row flag — the
    merge-into pattern every warehouse dimension load runs. Change
    detection is the same islands trick as sessionization (lag-compare
    -> running sum); the span rollup and the lead() that closes each
    span reuse the identical user_id partitioning, so the whole build
    rides one exchange of the fact. The running-sum window carries the
    event_id tiebreak (same-second change rows otherwise get versions
    in engine-internal tie order), and the change flag is null-safe
    (~eqNullSafe == IS DISTINCT FROM) so a NULL attribute value opens
    its own version on both engines."""
    ev = table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("event_type").over(w)
    marked = ev.select(
        "user_id", "event_id", "event_type", sec.alias("sec")
    ).withColumn(
        "chg",
        F.when(~prev.eqNullSafe(F.col("event_type")), 1).otherwise(0),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    versioned = marked.select(
        "user_id", "event_type", "sec",
        F.sum("chg").over(wrun).cast("long").alias("version"),
    )
    spans = versioned.groupBy("user_id", "version").agg(
        F.any_value("event_type").alias("event_type"),
        F.min("sec").alias("valid_from"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    valid_to = F.lead("valid_from").over(wv)
    return spans.select(
        "user_id", "version", "event_type", "valid_from",
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).cast("long")
        .alias("is_current"),
    )


@register(
    "q_dq_expectations",
    oracle="""
    SELECT 'orders_nonpositive_price' AS rule,
           CAST(count(*) AS BIGINT) AS violations
    FROM orders WHERE o_totalprice <= 0
    UNION ALL
    SELECT 'orders_null_custkey',
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
    UNION ALL
    SELECT 'lineitem_orphans', CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_dup_linekeys', CAST(coalesce(sum(extra), 0) AS BIGINT)
    FROM (
        SELECT count(*) - 1 AS extra
        FROM lineitem GROUP BY l_orderkey, l_linenumber
        HAVING count(*) > 1
    )
    """,
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation gate — the pre-load contract check
    (Deequ/Great-Expectations style) as one declared query. Every rule
    emits (rule, violations); a pipeline gates on sum(violations) = 0.

    Pass accounting (r14, guide §1.2 — don't compute what you can
    fuse): each base table is scanned the MINIMUM number of times its
    rules permit. Both orders rules (non-positive price, null custkey)
    fuse into ONE scan as conditional sums, unpivoted to rows with
    stack(). Both row-grain lineitem rules fuse into the dup-key
    groupBy the duplicate rule needs anyway: the qty-range count rides
    the per-(orderkey, linenumber) partial aggregate as a second sum,
    and the final 1-row reduce emits both rules. Referential integrity
    keeps its own anti-join pass (it needs the orders join side, not a
    scalar). Five aggregate-per-rule passes became three; at 100 TB
    that is two fewer full-table scans for byte-identical output."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    orders_rules = orders.agg(
        # coalesce: an empty table must yield 0 like the former
        # filter+count shape did, not a NULL sum
        F.coalesce(F.sum(
            F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
        ), F.lit(0)).cast("long").alias("v1"),
        F.coalesce(F.sum(
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        ), F.lit(0)).cast("long").alias("v2"),
    ).select(
        F.expr(
            "stack(2, 'orders_nonpositive_price', v1,"
            " 'orders_null_custkey', v2)"
        ).alias("rule", "violations")
    )
    qty_bad = F.when(
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
    ).otherwise(0)
    li_rules = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(
            (F.count("*") - 1).alias("extra"),
            F.sum(qty_bad).alias("qty_bad"),
        )
        .agg(
            F.coalesce(F.sum("qty_bad"), F.lit(0))
            .cast("long").alias("v3"),
            F.coalesce(
                F.sum(F.when(F.col("extra") > 0, F.col("extra"))),
                F.lit(0),
            ).cast("long").alias("v5"),
        )
        .select(
            F.expr(
                "stack(2, 'lineitem_qty_range', v3,"
                " 'lineitem_dup_linekeys', v5)"
            ).alias("rule", "violations")
        )
    )
    r4 = li.join(
        orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).agg(
        F.lit("lineitem_orphans").alias("rule"),
        F.count("*").alias("violations"),
    )
    return orders_rules.unionAll(li_rules).unionAll(r4)


@register(
    "q_triangle_count",
    oracle=f"""
    WITH {_GRAPH_EDGES_CTE}
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.p1 = e1.p2
    JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the co-purchase graph — the clustering-
    coefficient numerator, via the library op
    `operators.graphs.triangle_count` (degree-ordered compact-forward
    orientation: hub-skew-bounded wedge fan-out, count provably equal
    to the id-oriented oracle — see the op's docstring; crafted
    hub-graph equivalence pinned in tests/test_property.py). Reads the
    session's shared co-purchase graph build (plans/graph.py) — the
    persisted edge frame serves all three of its self-join consumers
    without rebuilding the rollup, the same materialization
    q_copurchase_pairs / q_pagerank read."""
    from etl_finance_spark.operators.graphs import triangle_count
    from etl_finance_spark.plans.graph import copurchase_edges

    return triangle_count(copurchase_edges(spark, sf_dir)
                          .select("p1", "p2"))


# Each user's daily total value in exact MICRO-units, day-sorted: the
# series both fixed-point folds (q_ewma here, q_macd in plans/finance.py)
# run over, stated once per engine. The DuckDB side is the ``daily`` and
# ``arr`` (ds, xs lists) CTE bodies. It lives here, not in finance.py,
# because this module registers first: finance importing it keeps the
# registration order.
DAILY_MICRO_CTE_SQL = """daily AS (
        SELECT user_id,
               CAST(floor(epoch(date_trunc('day',
                   date_trunc('microseconds', ts)))) AS BIGINT) AS day_s,
               sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS xm
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ), arr AS (
        SELECT user_id,
               list(day_s ORDER BY day_s) AS ds,
               list(xm ORDER BY day_s) AS xs
        FROM daily GROUP BY user_id
    )"""


def daily_micro_series(spark: SparkSession,
                       sf_dir: str) -> tuple[DataFrame, Column]:
    """The Spark side of DAILY_MICRO_CTE_SQL: ``(arr, xs)`` where
    ``arr`` is (user_id, sx) with ``sx`` the day-sorted array of
    (day_s, xm) structs, and ``xs`` the column of its xm values."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    day = F.date_trunc("day", F.col("ts"))
    micro = F.round(F.col("value") * 1000000).cast("long")
    daily = ev.groupBy(
        "user_id", F.unix_timestamp(day).alias("day_s")
    ).agg(F.sum(micro).alias("xm"))
    arr = daily.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("day_s", "xm"))).alias("sx")
    )
    return arr, F.col("sx").getField("xm")


@register(
    "q_ewma",
    oracle=f"""
    WITH {DAILY_MICRO_CTE_SQL}
    SELECT user_id,
           unnest(ds) AS day_s,
           unnest(list_transform(xs, v -> v / 1000000.0)) AS x,
           unnest(list_transform(
               generate_series(1, len(xs)),
               i -> list_reduce(xs[1:i],
                   (acc, v) -> (3 * v + 7 * acc) // 10) / 1000000.0
           )) AS ewma
    FROM arr
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point EWMA (alpha = 0.3) of each user's daily total value
    — the smoother the built-in window frames cannot express (every
    prior row contributes with geometrically decaying weight). Built
    as a HOF left-fold over each user's day-sorted series: for each
    prefix, acc' = (3*v + 7*acc) div 10 in exact integer MICRO-UNITS.
    The fixed-point formulation is deliberate: float EWMA values over
    2dp money inputs are exact decimals that land ON round() ties,
    where engines structurally disagree (Spark rounds the double's
    exact BigDecimal expansion, DuckDB rounds in double arithmetic,
    and FMA contraction adds 1-ulp wobble) — measured dozens of
    mismatches per 45k rows at any output precision. Long arithmetic
    has no such seam: sums are associative, the fold is deterministic,
    and the single division by 1e6 at projection maps the same long
    to the same double on both engines, bit-for-bit. Truncation error
    vs the float operator is < 1e-6 per step, two orders below the
    cent precision of the input. One shuffle (user_id); series are
    bounded (days-per-user), the same contract as every collect_sorted
    rung. At unbounded series length this swaps to the
    applyInPandasWithState form (streaming/stateful.py) with the fold
    as running state."""
    arr, xs = daily_micro_series(spark, sf_dir)
    # (3v + 7acc)/10 in double space is exact for the floor: operands
    # stay < 2^53 and the fractional part of n/10 is never within 1e-5
    # of 1, so floor() recovers the integer quotient precisely.
    ewma_arr = F.transform(
        F.sequence(F.lit(1), F.size("sx")),
        lambda i: F.aggregate(
            F.slice(xs, F.lit(2), i - 1),
            F.element_at(xs, 1),
            lambda acc, v: F.floor((3 * v + 7 * acc) / 10).cast("long"),
        ),
    )
    return arr.select(
        "user_id",
        F.posexplode(F.arrays_zip("sx", ewma_arr.alias("e"))).alias("_p", "z"),
    ).select(
        "user_id",
        F.col("z.sx.day_s").alias("day_s"),
        (F.col("z.sx.xm") / 1000000.0).alias("x"),
        (F.col("z.e") / 1000000.0).alias("ewma"),
    )
