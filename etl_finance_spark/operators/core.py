"""Reference-core operators (SURVEY.md §2.1 wave 1).

Each public function is a reusable engine operator expressed as a pure
DataFrame transformation; the ``q_*`` registrations bind it to fixture
tables for the driver's differential gate. Reference sites cited per
function (``/root/reference/etl.py``).

Scale posture: everything here is a narrow projection/filter/union that
Catalyst pushes into the parquet scan — no shuffles except where the
semantics require one (dedup, anti-join), and those shuffle on the dedup
key which is exactly the partitioning a 100 TB layout would bucket on.
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_finance_spark.catalog import table
from etl_finance_spark.registry import register

# ---------------------------------------------------------------------------
# Reusable operators
# ---------------------------------------------------------------------------


def union_all(frames: Iterable[DataFrame]) -> DataFrame:
    """R-UNION-1 (etl.py:122-132): loop-append union, as one lazy plan.

    The reference accumulates pandas frames with ``df.append`` per
    ticker/month; here the union is a single logical node — no
    per-iteration materialization, and Spark unions partition lists
    without moving data.
    """
    frames = list(frames)
    if not frames:
        raise ValueError("union_all of no frames")
    return reduce(DataFrame.unionByName, frames)


def add_tag(df: DataFrame, name: str, value) -> DataFrame:
    """R-PROJ-1 (etl.py:131): tag every row with a literal entity id."""
    return df.withColumn(name, F.lit(value))


def drop_columns(df: DataFrame, *cols: str) -> DataFrame:
    """R-PROJ-2 (etl.py:162,319,400): column drop → Catalyst prunes the scan."""
    return df.drop(*cols)


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """R-PROJ-3 (etl.py:401-402): wholesale rename."""
    return df.withColumnsRenamed(mapping)


def keep_members(df: DataFrame, col: str, allowed: Sequence[str]) -> DataFrame:
    """R-FIL-1 (etl.py:258-259,277,285): membership allowlist filter."""
    return df.filter(F.col(col).isin(list(allowed)))


def drop_empty_strings(df: DataFrame, *cols: str) -> DataFrame:
    """R-FIL-2 (etl.py:307-308): drop rows where any of ``cols`` is ''."""
    cond = reduce(lambda a, c: a & (F.col(c) != F.lit("")), cols, F.lit(True))
    return df.filter(cond)


def coalesce_fields(df: DataFrame, out: str, *candidates: str) -> DataFrame:
    """R-FIL-3 (etl.py:274-291): the try/except fallback field access is
    semantically a coalesce of candidate columns."""
    return df.withColumn(out, F.coalesce(*[F.col(c) for c in candidates]))


def fill_nulls_with_mean(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """R-NULL-1 (etl.py:139-145,404-410), *intended* semantics — the
    reference's ``df.mean`` (missing parens) crashes when reached.

    Two-pass: a 1-row global agg of per-column means, broadcast-joined
    back (no driver round-trip, no collect) — survives any scale because
    the agg output is one row regardless of input size. One projection
    fills every column in place, so the column order is unchanged.
    """
    fill = set(cols)
    means = df.agg(*[F.avg(c).alias(f"__mean_{c}") for c in cols])
    return df.crossJoin(F.broadcast(means)).select(*[
        F.coalesce(F.col(c), F.col(f"__mean_{c}")).alias(c) if c in fill
        else F.col(c)
        for c in df.columns
    ])


def month_range(spark: SparkSession, start: str, end: str) -> DataFrame:
    """R-DT-3 + R-CTL-3 (etl.py:234-251): inclusive month starts between
    two YYYY-MM-DD endpoints, with *working* argument validation (the
    reference's month check `12 <= start_month <= 0` is always-false
    dead code, and its ordering check raises only sometimes)."""
    import datetime as _dt

    s = _dt.date.fromisoformat(start)
    e = _dt.date.fromisoformat(end)
    if s > e:
        raise ValueError(f"start {start!r} is after end {end!r}")
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.trunc(F.lit(start).cast("date"), "MM"),
                F.trunc(F.lit(end).cast("date"), "MM"),
                F.expr("interval 1 month"),
            )
        ).alias("month_start")
    )


def dedup_by_key(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Dedup half of R-SNK-2 (etl.py:182-191): unique-index semantics."""
    return df.dropDuplicates(list(keys))


def upsert_new_rows(incoming: DataFrame, target: DataFrame,
                    keys: Sequence[str]) -> DataFrame:
    """R-SNK-2 (etl.py:182-191,331-341,438-449): INSERT..ON DUPLICATE KEY
    UPDATE col=col is an insert-if-absent. Batch form: dedup incoming on
    the key, anti-join against the target, append. The caller writes the
    result with ``mode('append')`` (see sources.sinks for the JDBC path).
    The target side is not deduplicated: an anti-join's result does not
    depend on duplicate keys on its right side.
    """
    fresh = dedup_by_key(incoming, keys)
    return fresh.join(target.select(*keys), on=list(keys), how="left_anti")


# ---------------------------------------------------------------------------
# Declared queries (driver contract)
# ---------------------------------------------------------------------------


@register("q_scan_parquet", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-SRC-1: bare parquet scan (stands in for every batch source)."""
    return table(spark, sf_dir, "nation")


@register(
    "q_union_all",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    parts = [orders.filter(F.col("o_orderstatus") == s) for s in ("O", "F")]
    return union_all(parts)


@register(
    "q_add_literal",
    oracle="SELECT n_nationkey, n_name, 'MSFT' AS stock_name FROM nation",
)
def q_add_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return add_tag(df, "stock_name", "MSFT")


@register(
    "q_project_drop",
    oracle="SELECT p_partkey, p_name, p_brand, p_size FROM part",
)
def q_project_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drop_columns(table(spark, sf_dir, "part"), "p_type", "p_retailprice")


@register(
    "q_project_rename",
    oracle="SELECT r_regionkey AS region_id, r_name AS region_name FROM region",
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rename_columns(
        table(spark, sf_dir, "region"),
        {"r_regionkey": "region_id", "r_name": "region_name"},
    )


@register(
    "q_filter_isin",
    oracle="""
    SELECT event_id, event_type FROM events
    WHERE event_type IN ('click', 'purchase', 'signup')
    """,
)
def q_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "events").select("event_id", "event_type")
    return keep_members(df, "event_type", ["click", "purchase", "signup"])


@register(
    "q_filter_nonempty",
    oracle="SELECT doc_id, lang FROM documents WHERE text <> '' AND lang <> ''",
)
def q_filter_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "documents")
    return drop_empty_strings(df, "text", "lang").select("doc_id", "lang")


@register(
    "q_coalesce",
    oracle="""
    SELECT o_orderkey,
           coalesce(nullif(o_orderpriority, '1-URGENT'), o_orderstatus) AS pick
    FROM orders
    """,
)
def q_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-FIL-3: fallback field access as coalesce (plus nullif)."""
    df = table(spark, sf_dir, "orders").withColumn(
        "primary", F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    )
    return coalesce_fields(df, "pick", "primary", "o_orderstatus").select(
        "o_orderkey", "pick"
    )


@register(
    "q_cast",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           CAST(l_quantity AS BIGINT) AS qty_long,
           CAST(l_linenumber AS DOUBLE) AS line_double,
           CAST(l_orderkey AS VARCHAR) AS okey_str
    FROM lineitem
    """,
)
def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-CAST-1 (etl.py:148-150,412). l_quantity is integral-valued, so
    Spark's truncate and DuckDB's round agree on the double→long cast."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty_long"),
        F.col("l_linenumber").cast("double").alias("line_double"),
        F.col("l_orderkey").cast("string").alias("okey_str"),
    )


@register(
    "q_date_format",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%d-%m-%Y') AS short_date,
           CAST(strptime(strftime(o_orderdate, '%d-%m-%Y'), '%d-%m-%Y') AS DATE)
               AS parsed_back
    FROM orders
    """,
)
def q_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-DT-1 (etl.py:25-31) + R-DT-4 (etl.py:334,440): format to the
    reference's 'dd-MM-yyyy' string and parse it back to a date."""
    df = table(spark, sf_dir, "orders")
    short = F.date_format("o_orderdate", "dd-MM-yyyy")
    return df.select(
        "o_orderkey",
        short.alias("short_date"),
        F.to_date(short, "dd-MM-yyyy").alias("parsed_back"),
    )


@register(
    "q_unix_ts",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           CAST(date_trunc('second', ts) AS DATE) AS event_date
    FROM events
    """,
)
def q_unix_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-DT-2 (etl.py:33-49): anything → epoch seconds."""
    df = table(spark, sf_dir, "events")
    return df.select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        F.col("ts").cast("date").alias("event_date"),
    )


@register(
    "q_multi_format_ts",
    oracle="""
    WITH raw AS (
        SELECT o_orderkey,
               CASE o_orderkey % 3
                    WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')
                    WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                    ELSE strftime(o_orderdate, '%d-%m-%Y') END AS ds
        FROM orders
    )
    SELECT o_orderkey, ds,
           CAST(floor(epoch(coalesce(
               try_strptime(ds, '%Y-%m-%dT%H:%M:%S'),
               try_strptime(ds, '%Y-%m-%d %H:%M:%S'),
               try_strptime(ds, '%d-%m-%Y')))) AS BIGINT) AS epoch_s
    FROM raw
    """,
)
def q_multi_format_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-DT-2 (etl.py:33-49): the reference parses heterogeneous date
    representations via exception-driven fallbacks (TypeError as
    control flow); the engine's form is a coalesce of try_to_timestamp
    attempts — declarative, null-safe, vectorized. Input heterogeneity
    is synthesized by formatting o_orderdate three different ways."""
    o = table(spark, sf_dir, "orders")
    ds = (
        F.when(F.col("o_orderkey") % 3 == 0,
               F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(F.col("o_orderkey") % 3 == 1,
              F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .otherwise(F.date_format("o_orderdate", "dd-MM-yyyy"))
    )
    parsed = F.coalesce(
        F.try_to_timestamp(F.col("ds"), F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(F.col("ds"), F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(F.col("ds"), F.lit("dd-MM-yyyy")),
    )
    return (
        o.withColumn("ds", ds)
        .select(
            "o_orderkey", "ds", F.unix_timestamp(parsed).alias("epoch_s")
        )
    )


@register(
    "q_month_seq",
    oracle="""
    SELECT CAST(unnest(generate_series(DATE '2017-01-01', DATE '2018-01-01',
                                       INTERVAL '1 month')) AS DATE) AS month_start
    """,
)
def q_month_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-DT-3 (etl.py:241-251): inclusive month range via sequence+explode.

    The reference's range (2017-01 → 2018-01, etl.py:466-467) — which its
    own `break` bug never honored (etl.py:294); the engine honors it.
    """
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("2017-01-01")),
                F.to_date(F.lit("2018-01-01")),
                F.expr("interval 1 month"),
            )
        ).alias("month_start")
    )


@register(
    "q_lower",
    oracle="""
    SELECT c_custkey, lower(c_name) AS name_lc, lower(c_mktsegment) AS seg_lc
    FROM customer
    """,
)
def q_lower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-STR-1 (etl.py:301-302)."""
    df = table(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.lower("c_name").alias("name_lc"),
        F.lower("c_mktsegment").alias("seg_lc"),
    )


@register(
    "q_array_transform",
    oracle="""
    SELECT doc_id,
           array_to_string(list_transform(string_split(text, ' '),
                                          x -> upper(x)), ' ') AS upper_text
    FROM documents
    """,
)
def q_array_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-ARR-1 (etl.py:303-304): per-element transform via higher-order
    function — JVM-side, no UDF (the reference uses a Python lambda)."""
    df = table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.array_join(
            F.transform(F.split("text", " "), lambda x: F.upper(x)), " "
        ).alias("upper_text"),
    )


@register(
    "q_array_field",
    oracle="""
    WITH structs AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t -> struct_pack(tok := t, ln := length(t)))
                   AS toks
        FROM documents
    )
    SELECT doc_id,
           array_to_string(list_transform(toks, s -> s.tok), ' ') AS token_str,
           CAST(list_sum(list_transform(toks, s -> CAST(s.ln AS BIGINT)))
                AS BIGINT) AS total_len
    FROM structs
    """,
)
def q_array_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-ARR-2 (etl.py:278,286): project one field out of each struct in
    an array — the reference's `[i['value'] for i in keywords]`. No
    struct-array column in fixtures → construct-then-inspect (same
    policy as q_map_funcs): tokens become structs, then per-field
    extraction and a fold over the numeric field."""
    d = table(spark, sf_dir, "documents")
    structs = F.transform(
        F.split("text", " "),
        lambda t: F.struct(t.alias("tok"), F.length(t).alias("ln")),
    )
    toks = F.col("toks")
    return d.withColumn("toks", structs).select(
        "doc_id",
        F.array_join(F.transform(toks, lambda s: s.tok), " ").alias("token_str"),
        F.aggregate(
            F.transform(toks, lambda s: s.ln.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_len"),
    )


@register(
    "q_to_json",
    oracle="""
    SELECT doc_id,
           CAST(to_json(string_split(text, ' ')[1:4]) AS VARCHAR) AS kw_json
    FROM documents
    """,
)
def q_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-JSON-1 (etl.py:333): array → JSON text at the sink boundary."""
    df = table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.to_json(F.slice(F.split("text", " "), 1, 4)).alias("kw_json"),
    )


@register(
    "q_json_get",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long
    FROM events
    """,
)
def q_json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-SRC-2's nested JSON projection (etl.py:273-291) on events.props."""
    df = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return df.select(
        "event_id",
        k.alias("k_str"),
        k.cast("long").alias("k_long"),
    )


@register(
    "q_from_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_typed,
           CAST(json_extract(props, '$.missing') AS INTEGER) AS absent
    FROM events
    """,
)
def q_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-SRC-2's typed JSON parse: from_json with a declared schema
    (vs q_json_get's stringly get_json_object) — missing fields land as
    typed nulls, the schema-first ingestion posture of sources.readers."""
    df = table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT, missing INT")
    return df.select(
        "event_id",
        parsed.getField("k").alias("k_typed"),
        parsed.getField("missing").alias("absent"),
    )


@register(
    "q_stats_agg",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_discount), 6) AS var_disc,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_cov
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (sample stddev/variance, Pearson corr,
    sample covariance) — both engines share the standard definitions;
    stddev of 1e4-scale values rounds at 4dp (precision-edge policy)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
            "qty_disc_cov"
        ),
    )


@register(
    "q_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-SNK-2 dedup half: unique-key projection. Shuffles once on the
    key — the same hash partitioning a bucketed 100 TB sink would use."""
    df = table(spark, sf_dir, "events").select("user_id", "event_type")
    return dedup_by_key(df, ["user_id", "event_type"])


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-SNK-2 anti-join half: rows whose key is absent from the target."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return upsert_new_rows(cust, orders, ["c_custkey"]).select("c_custkey", "c_name")


@register(
    "q_filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_quantity < 25.0
    """,
)
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date + numeric range predicates; both push down to the scan."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_quantity") < 25.0)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


@register(
    "q_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS price_band
    FROM orders
    """,
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
        .alias("price_band"),
    )


@register(
    "q_fillna_mean",
    oracle="""
    WITH masked AS (
        SELECT event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    )
    SELECT event_id, round(coalesce(v, avg(v) OVER ()), 6) AS v_filled
    FROM masked
    """,
)
def q_fillna_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-NULL-1 intended semantics (the reference's own mean-fill crashes,
    etl.py:142,407 — divergence documented in SURVEY.md §2.1). Nulls are
    synthesized (fixtures have none), then mean-filled via broadcast agg."""
    df = table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    filled = fill_nulls_with_mean(df, ["v"])
    return filled.select("event_id", F.round("v", 6).alias("v_filled"))


@register(
    "q_pct_change_lag",
    oracle="""
    SELECT event_id,
           user_id,
           floor(coalesce(
               value / nullif(lag(value) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts), event_id
               ), 0.0) - 1, 0.0) * 1000000 + 0.5) / 1000000 AS pct_change
    FROM events
    """,
)
def q_pct_change_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-WIN-1 (etl.py:166-170): lag-1 percent change, per-entity.

    Documented divergence: the reference shifts over the concatenated
    multi-ticker frame (seam bug, etl.py:132+166); the engine partitions
    by entity, which is the intended semantics and the scalable plan.
    """
    from pyspark.sql.window import Window

    df = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # try_divide: zero previous value → null → 0 via the coalesce (ANSI
    # `/` would raise; DuckDB's `/` returns NULL — try_divide matches it).
    # Rounding via the explicit floor formula, identical on both engines:
    # library round() implementations disagree on rare boundary doubles
    # (observed at sf0.1), while the same IEEE expression cannot.
    pct = F.coalesce(
        F.try_divide(F.col("value"), F.lag("value", 1).over(w)) - 1,
        F.lit(0.0),
    )
    return df.select(
        "event_id",
        "user_id",
        (F.floor(pct * 1000000 + F.lit(0.5)) / 1000000).alias("pct_change"),
    )


@register(
    "q_join_outer",
    oracle="""
    WITH clicks AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, round(avg(value), 6) AS click_avg
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), purchases AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, round(avg(value), 6) AS purchase_avg
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT coalesce(clicks.day, purchases.day) AS day, click_avg, purchase_avg
    FROM clicks FULL OUTER JOIN purchases ON clicks.day = purchases.day
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-JOIN-1 (etl.py:397-402): the transpose-alignment of two
    date-keyed series is a full outer join on the date key."""
    events = table(spark, sf_dir, "events")

    def daily(etype: str, out: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == etype)
            .groupBy(F.col("ts").cast("date").alias("day"))
            .agg(F.round(F.avg("value"), 6).alias(out))
        )

    clicks, purchases = daily("click", "click_avg"), daily("purchase", "purchase_avg")
    return clicks.join(purchases, on="day", how="full")


@register(
    "q_time_range_scan",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE ts >= TIMESTAMP '2024-02-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-08 00:00:00'
    """,
)
def q_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events_between pushdown scan as declared surface: the range
    predicate is applied to the RAW int64-nanosecond column before the
    timestamp conversion, so parquet row-group min/max statistics prune
    at the scan (a filter on the converted column never reaches it —
    derived-column predicates don't push). At 100 TB with date
    partitioning this is reading a week instead of the table. Plan test
    pins PushedFilters; see catalog.events_between."""
    from etl_finance_spark.catalog import events_between

    return events_between(
        spark, sf_dir, "2024-02-01 00:00:00", "2024-02-08 00:00:00"
    ).select("event_id", "user_id", "event_type")


@register(
    "q_profile_events",
    oracle="""
    SELECT count(*) AS n_rows,
           count(*) - count(value) AS n_value_nulls,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_type) AS n_types,
           CAST(floor(epoch(min(date_trunc('microseconds', ts))))
                AS BIGINT) AS min_ts_epoch,
           CAST(floor(epoch(max(date_trunc('microseconds', ts))))
                AS BIGINT) AS max_ts_epoch,
           round(avg(value), 6) AS mean_value
    FROM events
    """,
)
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling — the first query every ingest pipeline runs
    against a new drop (row count, null density, key cardinalities,
    time bounds, value center) in ONE aggregation pass over the scan.
    All aggregates are mergeable, so the profile costs a single
    map-side-combined shuffle regardless of table size."""
    ev = table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_value_nulls"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.unix_timestamp(F.min("ts")).alias("min_ts_epoch"),
        F.unix_timestamp(F.max("ts")).alias("max_ts_epoch"),
        F.round(F.avg("value"), 6).alias("mean_value"),
    )
