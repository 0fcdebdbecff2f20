"""Financial time-series tier: drawdown, Bollinger bands, VWAP, RSI —
the indicator math the reference's stock pipeline feeds downstream (its
own transform stops at pct-change, reference etl.py:226; these are the
consumers). All four ride the fixed-point discipline proven by q_ewma:
events.value is exactly 2dp (verified at both SFs), so CENTI-unit longs
make every sum/diff/extremum exact and cross-engine identical; the few
genuinely real-valued outputs (stddev, ratios) are derived from exact
integers by single IEEE double ops (division, sqrt) that both engines
round identically, then 6dp-rounded with the +0.0 -0.0 guard.

Scale posture: every query is one hashpartitioning(user_id | partkey)
exchange; windows, rollups, and frames all reuse it. Nothing global,
no UDFs, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_spark.catalog import table
from etl_finance_spark.plans.analytics3 import (
    DAILY_MICRO_CTE_SQL, daily_micro_series,
)
from etl_finance_spark.registry import register

_DAILY_CENTS = """
    SELECT user_id,
           CAST(floor(epoch(date_trunc('day',
               date_trunc('microseconds', ts)))) AS BIGINT) AS day_s,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS vc
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily total value in exact centi-units (events.value is
    2dp money; verified max 2dp error 0.0 at sf0.1)."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    day = F.date_trunc("day", F.col("ts"))
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy(
        "user_id", F.unix_timestamp(day).alias("day_s")
    ).agg(F.sum(cents).alias("vc"))


@register(
    "q_drawdown",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS})
    SELECT user_id, day_s,
           vc / 100.0 AS v,
           CAST(max(vc) OVER w AS BIGINT) / 100.0 AS peak,
           (vc - CAST(max(vc) OVER w AS BIGINT)) / 100.0 AS drawdown,
           CAST(vc - CAST(max(vc) OVER w AS BIGINT) AS DOUBLE)
               / CAST(max(vc) OVER w AS BIGINT) AS dd_frac
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day_s
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown of each user's daily total — the max-
    drawdown building block (running max via an expanding window frame,
    then exact integer subtraction; only the final ratio is real-
    valued). peak/drawdown divide exact longs by 100.0 — deterministic
    doubles; dd_frac is ONE IEEE division over exact longs, so it ships
    UNROUNDED: both engines produce the bit-identical double, whereas
    round(rational, 6) is the hazard — exact rationals land exactly ON
    6dp ties where Spark (BigDecimal half-up) and DuckDB (double math)
    structurally disagree (measured on q_vwap's sc/3200 case). One
    exchange: the daily rollup and the window share
    hashpartitioning(user_id)."""
    daily = _daily_cents(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak_c = F.max("vc").over(w)
    return daily.select(
        "user_id",
        "day_s",
        (F.col("vc") / 100.0).alias("v"),
        (peak_c / 100.0).alias("peak"),
        ((F.col("vc") - peak_c) / 100.0).alias("drawdown"),
        F.try_divide(
            (F.col("vc") - peak_c).cast("double"), peak_c
        ).alias("dd_frac"),
    )


@register(
    "q_bollinger",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS}), framed AS (
        SELECT user_id, day_s, vc,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(vc) OVER w AS BIGINT) AS s1,
               CAST(sum(vc * vc) OVER w AS BIGINT) AS s2
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day_s
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, day_s, vc / 100.0 AS v,
           CASE WHEN n = 7 THEN
               round(CAST(s1 AS DOUBLE) / 700.0, 6) + 0.0 END AS ma7,
           CASE WHEN n = 7 THEN
               round(CAST(s1 AS DOUBLE) / 700.0
                     + 2 * sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE)) / 700.0,
                     6) + 0.0 END AS upper,
           CASE WHEN n = 7 THEN
               round(CAST(s1 AS DOUBLE) / 700.0
                     - 2 * sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE)) / 700.0,
                     6) + 0.0 END AS lower
    FROM framed
    """,
)
def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (7-day MA +/- 2 sigma) with the variance computed
    from EXACT integer moments: s1 = sum(vc), s2 = sum(vc^2) over the
    frame are exact longs (vc <= ~9e4 cents, s2 <= 5e10 — no overflow),
    and n*s2 - s1^2 = n^2 * var_pop is an exact integer. The only real
    ops are one double division and one sqrt over those exact integers
    — identically rounded IEEE on both engines, so the 6dp round can
    never straddle a tie differently (the q_ewma lesson: never round a
    float ACCUMULATION, only a float derived in one step from exact
    ints). Bands are NULL until the frame fills (n = 7). Same single
    user_id exchange as the drawdown."""
    daily = _daily_cents(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_s")
        .rowsBetween(-6, Window.currentRow)
    )
    n = F.count("*").over(w)
    s1 = F.sum("vc").over(w)
    s2 = F.sum(F.col("vc") * F.col("vc")).over(w)
    framed = daily.select(
        "user_id", "day_s", "vc",
        n.cast("long").alias("n"), s1.alias("s1"), s2.alias("s2"),
    )
    ma = F.col("s1").cast("double") / 700.0
    two_sd = 2 * F.sqrt(
        (7 * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    ) / 700.0
    full = F.col("n") == 7
    return framed.select(
        "user_id",
        "day_s",
        (F.col("vc") / 100.0).alias("v"),
        F.when(full, F.round(ma, 6) + 0.0).alias("ma7"),
        F.when(full, F.round(ma + two_sd, 6) + 0.0).alias("upper"),
        F.when(full, F.round(ma - two_sd, 6) + 0.0).alias("lower"),
    )


@register(
    "q_vwap",
    oracle="""
    SELECT l_partkey,
           CAST(floor(epoch(date_trunc('month', l_shipdate))) AS BIGINT)
               AS month_s,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                AS DOUBLE)
               / (100.0 * CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT))
               AS vwap,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per part per ship-month — the
    execution-quality benchmark every fill stream is marked against.
    l_extendedprice is 2dp and l_quantity integer-valued (verified), so
    both sums are exact longs; VWAP is one double division over them,
    shipped unrounded — sc/(100*qty) is an exact rational that lands
    exactly on 6dp round ties (sc/3200 ends ...5 at the 7th place),
    where the engines' round() implementations structurally disagree;
    the raw division is bit-identical instead.
    Pure one-shuffle rollup with map-side partials; the (part, month)
    key is the natural partition key for the 100 TB fills table."""
    li = table(spark, sf_dir, "lineitem")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    qty = F.col("l_quantity").cast("long")
    return (
        li.groupBy(
            "l_partkey",
            F.unix_timestamp(
                F.date_trunc("month", F.col("l_shipdate"))
            ).alias("month_s"),
        )
        .agg(
            F.sum(price_c).alias("sc"),
            F.sum(qty).alias("total_qty"),
            F.count("*").alias("n_lines"),
        )
        .select(
            "l_partkey",
            "month_s",
            F.try_divide(
                F.col("sc").cast("double"), 100.0 * F.col("total_qty")
            ).alias("vwap"),
            "total_qty",
            "n_lines",
        )
    )


@register(
    "q_rsi",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS}), diffed AS (
        SELECT user_id, day_s,
               vc - lag(vc) OVER (PARTITION BY user_id ORDER BY day_s)
                   AS dc
        FROM daily
    ), framed AS (
        SELECT user_id, day_s,
               CAST(count(dc) OVER w AS BIGINT) AS nd,
               CAST(sum(CASE WHEN dc > 0 THEN dc ELSE 0 END) OVER w
                    AS BIGINT) AS sg,
               CAST(sum(CASE WHEN dc < 0 THEN -dc ELSE 0 END) OVER w
                    AS BIGINT) AS sl
        FROM diffed
        WINDOW w AS (PARTITION BY user_id ORDER BY day_s
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, day_s,
           CASE WHEN nd = 14 THEN
               100.0 * sg / (sg + sl) END AS rsi
    FROM framed
    """,
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period RSI (Cutler's SMA form) over each user's daily totals,
    via the algebraic identity 100 - 100/(1 + g/l) = 100*g/(g+l) — one
    division instead of two, and NULL (not a crash) when the window has
    no movement at all (g + l = 0, try_divide both engines). Day-over-
    day diffs, clamps, and both frame sums are exact integer cents; the
    final multiply+divide are correctly-rounded IEEE over exact-integer
    doubles, identical on both engines, so rsi ships unrounded (the
    rational-tie rule — see q_drawdown). NULL until 14 diffs fill the
    frame. Shares the one user_id exchange across the diff window and
    the frame sums."""
    daily = _daily_cents(spark, sf_dir)
    wlag = Window.partitionBy("user_id").orderBy("day_s")
    diffed = daily.select(
        "user_id", "day_s",
        (F.col("vc") - F.lag("vc").over(wlag)).alias("dc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_s")
        .rowsBetween(-13, Window.currentRow)
    )
    framed = diffed.select(
        "user_id", "day_s",
        F.count("dc").over(w).cast("long").alias("nd"),
        F.sum(
            F.when(F.col("dc") > 0, F.col("dc")).otherwise(0)
        ).over(w).alias("sg"),
        F.sum(
            F.when(F.col("dc") < 0, -F.col("dc")).otherwise(0)
        ).over(w).alias("sl"),
    )
    return framed.select(
        "user_id",
        "day_s",
        F.when(
            F.col("nd") == 14,
            F.try_divide(100.0 * F.col("sg"), F.col("sg") + F.col("sl")),
        ).alias("rsi"),
    )


_DAILY_CENTS_VOL = """
    SELECT user_id,
           CAST(floor(epoch(date_trunc('day',
               date_trunc('microseconds', ts)))) AS BIGINT) AS day_s,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS vc,
           CAST(count(*) AS BIGINT) AS nv
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
"""


@register(
    "q_stochastic",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS}), framed AS (
        SELECT user_id, day_s, vc,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(max(vc) OVER w AS BIGINT) AS hi,
               CAST(min(vc) OVER w AS BIGINT) AS lo
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day_s
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, day_s, vc / 100.0 AS v,
           CASE WHEN n = 14 THEN hi / 100.0 END AS hi14,
           CASE WHEN n = 14 THEN lo / 100.0 END AS lo14,
           CASE WHEN n = 14 THEN
               100.0 * (vc - lo) / NULLIF(hi - lo, 0) END AS pct_k
    FROM framed
    """,
)
def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K over a 14-day channel: where today's
    value sits between the rolling low and high. Channel extrema are
    exact integer cents (min/max over a ROWS frame), so the only real
    op is the final 100*(v-lo)/(hi-lo) — one IEEE division over exact
    longs, shipped unrounded per the rational-tie rule (q_drawdown).
    Flat channels (hi = lo) yield NULL via try_divide, matching the
    oracle's NULLIF; NULL until the frame fills. Rides the same single
    hashpartitioning(user_id) exchange as every indicator in this
    tier."""
    daily = _daily_cents(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_s")
        .rowsBetween(-13, Window.currentRow)
    )
    n = F.count("*").over(w).cast("long")
    hi = F.max("vc").over(w)
    lo = F.min("vc").over(w)
    framed = daily.select(
        "user_id", "day_s", "vc",
        n.alias("n"), hi.alias("hi"), lo.alias("lo"),
    )
    full = F.col("n") == 14
    return framed.select(
        "user_id",
        "day_s",
        (F.col("vc") / 100.0).alias("v"),
        F.when(full, F.col("hi") / 100.0).alias("hi14"),
        F.when(full, F.col("lo") / 100.0).alias("lo14"),
        F.when(
            full,
            F.try_divide(
                100.0 * (F.col("vc") - F.col("lo")),
                F.nullif(F.col("hi") - F.col("lo"), F.lit(0)),
            ),
        ).alias("pct_k"),
    )


@register(
    "q_obv",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_VOL}), diffed AS (
        SELECT user_id, day_s, nv,
               vc - lag(vc) OVER (PARTITION BY user_id ORDER BY day_s)
                   AS dc
        FROM daily
    )
    SELECT user_id, day_s, nv AS volume,
           CAST(sum(CASE WHEN dc > 0 THEN nv
                         WHEN dc < 0 THEN -nv ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY day_s
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM diffed
    """,
)
def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume: running sum of each day's event count signed
    by the direction of the day-over-day value move (flat or first day
    contributes 0). Every term and the running sum are exact longs —
    no real arithmetic anywhere, so no rounding policy needed at all.
    Two stacked windows (lag diff, then expanding sum) share one
    hashpartitioning(user_id) exchange."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    day = F.date_trunc("day", F.col("ts"))
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        "user_id", F.unix_timestamp(day).alias("day_s")
    ).agg(F.sum(cents).alias("vc"), F.count("*").alias("nv"))
    wlag = Window.partitionBy("user_id").orderBy("day_s")
    diffed = daily.select(
        "user_id", "day_s", "nv",
        (F.col("vc") - F.lag("vc").over(wlag)).alias("dc"),
    )
    wrun = wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signed = (
        F.when(F.col("dc") > 0, F.col("nv"))
        .when(F.col("dc") < 0, -F.col("nv"))
        .otherwise(F.lit(0).cast("long"))
    )
    return diffed.select(
        "user_id",
        "day_s",
        F.col("nv").alias("volume"),
        F.sum(signed).over(wrun).alias("obv"),
    )


@register(
    "q_macd",
    oracle=f"""
    WITH {DAILY_MICRO_CTE_SQL}, folded AS (
        SELECT user_id,
               unnest(ds) AS day_s,
               unnest(list_transform(
                   generate_series(1, len(xs)),
                   i -> list_reduce(xs[1:i],
                       (acc, v) -> (2 * v + 11 * acc) // 13)
               )) AS e12,
               unnest(list_transform(
                   generate_series(1, len(xs)),
                   i -> list_reduce(xs[1:i],
                       (acc, v) -> (2 * v + 25 * acc) // 27)
               )) AS e26
        FROM arr
    )
    SELECT user_id, day_s,
           e12 / 1000000.0 AS ema12,
           e26 / 1000000.0 AS ema26,
           (e12 - e26) / 1000000.0 AS macd
    FROM folded
    """,
)
def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD line (EMA12 - EMA26) of each user's daily total, in the
    fixed-point integer-fold discipline proven by q_ewma
    (plans/analytics3.py): both EMAs fold exact MICRO-unit longs with
    acc' = (2v + k*acc) div (k+2) for k = 11, 25 — the standard
    alpha = 2/(span+1) smoothers — seeded from the first observation.
    Floor-of-double recovers the integer quotient exactly (operands
    < 2^53; a non-integer quotient sits >= 1/27 from the next integer,
    far beyond 1 ulp), so every EMA value and the MACD difference are
    exact longs; the /1e6 projection maps them to bit-identical
    doubles. One user_id shuffle; per-user series are bounded (the
    collect_sorted contract), and the unbounded-stream form is the
    applyInPandasWithState fold (streaming/stateful.py)."""
    arr, xs = daily_micro_series(spark, sf_dir)

    def _ema_fold(mul_v: int, mul_a: int, div: int):
        return F.transform(
            F.sequence(F.lit(1), F.size("sx")),
            lambda i: F.aggregate(
                F.slice(xs, F.lit(2), i - 1),
                F.element_at(xs, 1),
                lambda acc, v: F.floor(
                    (mul_v * v + mul_a * acc) / div
                ).cast("long"),
            ),
        )

    e12 = _ema_fold(2, 11, 13)
    e26 = _ema_fold(2, 25, 27)
    return arr.select(
        "user_id",
        F.posexplode(
            F.arrays_zip("sx", e12.alias("a"), e26.alias("b"))
        ).alias("_p", "z"),
    ).select(
        "user_id",
        F.col("z.sx.day_s").alias("day_s"),
        (F.col("z.a") / 1000000.0).alias("ema12"),
        (F.col("z.b") / 1000000.0).alias("ema26"),
        ((F.col("z.a") - F.col("z.b")) / 1000000.0).alias("macd"),
    )


@register(
    "q_beta",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS}), market AS (
        SELECT day_s, CAST(sum(vc) AS BIGINT) AS mc
        FROM daily GROUP BY 1
    ), j AS (
        SELECT d.user_id,
               CAST(d.vc AS HUGEINT) AS x,
               CAST(m.mc AS HUGEINT) AS y
        FROM daily d JOIN market m USING (day_s)
    ), a AS (
        SELECT user_id,
               CAST(count(*) AS HUGEINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(y * y) AS syy
        FROM j GROUP BY 1
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / NULLIF(CAST(n * syy - sy * sy AS DOUBLE), 0) AS beta
    FROM a
    """,
)
def q_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user beta against the whole-corpus 'market' (the sum of all
    users' daily totals): cov(x, M)/var(M) over each user's active
    days, computed from EXACT integer moments. Cents products overflow
    int64 at the market scale (n*syy ~ 1e21), so Spark accumulates in
    decimal(38,0) (exact BigDecimal; every value fits well inside 38
    digits) and the oracle in HUGEINT — then each side casts the two
    exact integers to double (correctly-rounded on both engines) and
    performs ONE division, shipped unrounded per the rational-tie
    rule. Zero market variance yields NULL (try_divide vs NULLIF;
    DuckDB's /0.0 would return inf, never NULL, so the guard is
    load-bearing). Shuffle story: daily rollup, a one-row-per-day
    market re-agg that BROADCASTS back onto the fact (no second fact
    shuffle), then one user_id agg. The market hint is deliberate and
    stays under the round-4 bounded-broadcast rule: its cardinality is
    CALENDAR-bounded (one row per day — a decade is ~3.7k rows at any
    data volume), not sf-proportional, so it can never become a
    broadcast-OOM as data scales."""
    daily = _daily_cents(spark, sf_dir)
    market = daily.groupBy("day_s").agg(F.sum("vc").alias("mc"))
    dec = "decimal(18,0)"
    j = daily.join(F.broadcast(market), "day_s").select(
        "user_id",
        F.col("vc").cast(dec).alias("x"),
        F.col("mc").cast(dec).alias("y"),
    )
    a = j.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast(dec)
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return a.select(
        "user_id",
        F.col("n").alias("n_days"),
        F.try_divide(num.cast("double"), den.cast("double")).alias("beta"),
    )


@register(
    "q_atr",
    oracle=f"""
    WITH ev AS (
        SELECT user_id,
               CAST(floor(epoch(date_trunc('day',
                   date_trunc('microseconds', ts)))) AS BIGINT) AS day_s,
               date_trunc('microseconds', ts) AS tsu,
               event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
    ), ranked AS (
        SELECT user_id, day_s, vc, tsu, event_id,
               row_number() OVER (PARTITION BY user_id, day_s
                                  ORDER BY tsu DESC, event_id DESC) AS rn
        FROM ev
    ), daily AS (
        SELECT user_id, day_s,
               CAST(max(vc) AS BIGINT) AS hi,
               CAST(min(vc) AS BIGINT) AS lo,
               CAST(max(CASE WHEN rn = 1 THEN vc END) AS BIGINT) AS cl
        FROM ranked GROUP BY 1, 2
    ), tr AS (
        SELECT user_id, day_s,
               greatest(hi - lo,
                        abs(hi - coalesce(pcl, hi)),
                        abs(lo - coalesce(pcl, lo))) AS trng
        FROM (SELECT *, lag(cl) OVER (PARTITION BY user_id
                                      ORDER BY day_s) AS pcl
              FROM daily)
    ), framed AS (
        SELECT user_id, day_s, trng,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(trng) OVER w AS BIGINT) AS st
        FROM tr
        WINDOW w AS (PARTITION BY user_id ORDER BY day_s
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, day_s, trng / 100.0 AS true_range,
           CASE WHEN n = 14 THEN st / 1400.0 END AS atr14
    FROM framed
    """,
)
def q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day average true range over per-user daily candles. The
    candle (hi, lo, close) comes from ONE groupBy: extrema are plain
    max/min and the close is max-of-struct (ts, event_id, value) — the
    partial-aggregating latest-per-key shape (aggregates.py:262), not
    the oracle's row_number window, so the shuffle carries one
    candidate per (user, day) per input partition. True range
    (greatest of hi-lo and the two prev-close gaps; first day falls
    back to hi-lo via coalesce) and its 14-day frame sum are exact
    integer cents; atr14 = st/1400.0 is one IEEE division over an
    exact long — unrounded per the rational-tie rule. Two
    hashpartitioning exchanges total: (user, day) rollup, then the
    user_id window chain."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    daily = (
        ev.select(
            "user_id",
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_s"),
            cents.alias("vc"),
            "ts",
            "event_id",
        )
        .groupBy("user_id", "day_s")
        .agg(
            F.max("vc").alias("hi"),
            F.min("vc").alias("lo"),
            F.max(F.struct("ts", "event_id", "vc")).alias("last"),
        )
        .select(
            "user_id", "day_s", "hi", "lo", F.col("last.vc").alias("cl")
        )
    )
    wlag = Window.partitionBy("user_id").orderBy("day_s")
    pcl = F.lag("cl").over(wlag)
    tr = daily.select(
        "user_id", "day_s",
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.coalesce(pcl, F.col("hi"))),
            F.abs(F.col("lo") - F.coalesce(pcl, F.col("lo"))),
        ).alias("trng"),
    )
    w14 = wlag.rowsBetween(-13, Window.currentRow)
    framed = tr.select(
        "user_id", "day_s", "trng",
        F.count("*").over(w14).cast("long").alias("n"),
        F.sum("trng").over(w14).alias("st"),
    )
    return framed.select(
        "user_id",
        "day_s",
        (F.col("trng") / 100.0).alias("true_range"),
        F.when(F.col("n") == 14, F.col("st") / 1400.0).alias("atr14"),
    )


@register(
    "q_golden_cross",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS}), framed AS (
        SELECT user_id, day_s,
               CAST(count(*) OVER w5 AS BIGINT) AS n5,
               CAST(sum(vc) OVER w5 AS BIGINT) AS s5,
               CAST(count(*) OVER w20 AS BIGINT) AS n20,
               CAST(sum(vc) OVER w20 AS BIGINT) AS s20
        FROM daily
        WINDOW w5 AS (PARTITION BY user_id ORDER BY day_s
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w20 AS (PARTITION BY user_id ORDER BY day_s
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), signed AS (
        SELECT user_id, day_s,
               CASE WHEN n5 = 5 THEN s5 / 500.0 END AS ma5,
               CASE WHEN n20 = 20 THEN s20 / 2000.0 END AS ma20,
               CASE WHEN n5 = 5 AND n20 = 20 THEN
                   CAST(sign(4 * s5 - s20) AS BIGINT) END AS rel
        FROM framed
    )
    SELECT user_id, day_s, ma5, ma20, rel,
           coalesce(rel = 1 AND lag(rel) OVER
               (PARTITION BY user_id ORDER BY day_s) = -1,
               false) AS golden,
           coalesce(rel = -1 AND lag(rel) OVER
               (PARTITION BY user_id ORDER BY day_s) = 1,
               false) AS death
    FROM signed
    """,
)
def q_golden_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover detector (MA5 vs MA20 — spans sized to
    the fixture's ~30 active days per user; the 50/200 classic is the
    same plan). The load-bearing trick: the MA comparison never touches
    doubles — ma5 > ma20 iff 4*s5 > s20 in exact integer cents, so
    `rel` = sign(4*s5 - s20) and the cross flags (rel flipping sign
    day-over-day) are exact; the ma columns are exact-long/const
    single divisions, unrounded. Both frames and the lag share one
    hashpartitioning(user_id) exchange."""
    daily = _daily_cents(spark, sf_dir)
    base = Window.partitionBy("user_id").orderBy("day_s")
    w5 = base.rowsBetween(-4, Window.currentRow)
    w20 = base.rowsBetween(-19, Window.currentRow)
    framed = daily.select(
        "user_id", "day_s",
        F.count("*").over(w5).cast("long").alias("n5"),
        F.sum("vc").over(w5).alias("s5"),
        F.count("*").over(w20).cast("long").alias("n20"),
        F.sum("vc").over(w20).alias("s20"),
    )
    rel = F.when(
        (F.col("n5") == 5) & (F.col("n20") == 20),
        F.signum(4 * F.col("s5") - F.col("s20")).cast("long"),
    )
    signed = framed.select(
        "user_id", "day_s",
        F.when(F.col("n5") == 5, F.col("s5") / 500.0).alias("ma5"),
        F.when(F.col("n20") == 20, F.col("s20") / 2000.0).alias("ma20"),
        rel.alias("rel"),
    )
    prev = F.lag("rel").over(base)
    return signed.select(
        "user_id", "day_s", "ma5", "ma20", "rel",
        F.coalesce(
            (F.col("rel") == 1) & (prev == -1), F.lit(False)
        ).alias("golden"),
        F.coalesce(
            (F.col("rel") == -1) & (prev == 1), F.lit(False)
        ).alias("death"),
    )


@register(
    "q_sharpe",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS}), diffed AS (
        SELECT user_id, day_s,
               vc - lag(vc) OVER (PARTITION BY user_id ORDER BY day_s)
                   AS dc
        FROM daily
    ), framed AS (
        SELECT user_id, day_s,
               CAST(count(dc) OVER w AS BIGINT) AS n,
               CAST(sum(dc) OVER w AS BIGINT) AS sd,
               CAST(sum(dc * dc) OVER w AS BIGINT) AS sdd
        FROM diffed
        WINDOW w AS (PARTITION BY user_id ORDER BY day_s
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, day_s,
           CASE WHEN n = 14 THEN
               sd / NULLIF(sqrt(CAST(14 * sdd - sd * sd AS DOUBLE)), 0)
           END AS sharpe14
    FROM framed
    """,
)
def q_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period Sharpe-style signal-to-noise of daily value changes:
    mean(d)/std_pop(d) simplifies to sd / sqrt(n*sdd - sd^2) — the n
    factors cancel, leaving TWO sequential IEEE ops (sqrt, divide)
    over exact integer cents moments. No accumulation ever happens in
    float, so both engines produce the bit-identical double and the
    result ships unrounded (the q_bollinger lesson applied to a
    ratio). Zero variance (constant changes) yields NULL via
    try_divide-over-NULLIF on both sides. Same single user_id
    exchange: lag diff and frame sums stack on one sort."""
    daily = _daily_cents(spark, sf_dir)
    base = Window.partitionBy("user_id").orderBy("day_s")
    diffed = daily.select(
        "user_id", "day_s",
        (F.col("vc") - F.lag("vc").over(base)).alias("dc"),
    )
    w = base.rowsBetween(-13, Window.currentRow)
    framed = diffed.select(
        "user_id", "day_s",
        F.count("dc").over(w).cast("long").alias("n"),
        F.sum("dc").over(w).alias("sd"),
        F.sum(F.col("dc") * F.col("dc")).over(w).alias("sdd"),
    )
    return framed.select(
        "user_id",
        "day_s",
        F.when(
            F.col("n") == 14,
            F.try_divide(
                F.col("sd").cast("double"),
                F.nullif(
                    F.sqrt(
                        (14 * F.col("sdd") - F.col("sd") * F.col("sd"))
                        .cast("double")
                    ),
                    F.lit(0.0),
                ),
            ),
        ).alias("sharpe14"),
    )
