"""Forex pipeline — the reference's ForexETL re-expressed
(/root/reference/etl.py:344-449) as composable DataFrame stages.

The reference aligns two date-keyed dicts with a pandas transpose
(etl.py:397) — semantically a full outer join on date — then computes
day-over-day deltas with a global shift. Here: an explicit full outer
join, then mean-fill and lag in per-currency windows.

Scale note: a single daily series has no entity key, so the delta
window would be one partition; the engine instead *unpivots* to
(date, currency, rate), partitions the lag by currency, and pivots
back — the same result with per-currency parallelism, which is the
shape that survives when "5 currencies" becomes 50k instruments. After
the unpivot each currency partition holds exactly one rate column, so
the mean-fill is a window aggregate over that same partition: one
exchange feeds both, with no global aggregate and no broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType, DoubleType, StructField, StructType,
)
from pyspark.sql.window import Window

from etl_finance_spark.sources.sinks import write_upsert

CURRENCIES = ("eur", "gbp", "sek", "dkk")
RATE_COLS = tuple(f"usd_to_{c}" for c in ("btc",) + CURRENCIES)

# Raw source shapes (ratesapi.io per-day payload, etl.py:359-374;
# BTC close range payload, etl.py:386-391).
RATES_RAW_SCHEMA = StructType(
    [StructField("short_date", DateType())]
    + [StructField(f"usd_to_{c}", DoubleType()) for c in CURRENCIES]
)
BTC_RAW_SCHEMA = StructType([
    StructField("short_date", DateType()),
    StructField("usd_to_btc", DoubleType()),
])

UPSERT_KEYS = ("short_date",)


def align_sources(rates: DataFrame, btc: DataFrame) -> DataFrame:
    """R-JOIN-1 (etl.py:397-402): full outer join on the date key —
    mismatched coverage surfaces as nulls feeding the mean-fill."""
    return rates.join(btc, on="short_date", how="full")


def clean_forex(df: DataFrame) -> DataFrame:
    """R-CAST-1 (etl.py:404-412). The R-NULL-1 mean-fill of the same
    lines runs in transform_forex's per-currency window."""
    return df.select(
        "short_date", *[F.col(c).cast("double").alias(c) for c in RATE_COLS]
    )


def transform_forex(df: DataFrame) -> DataFrame:
    """R-NULL-1 + R-WIN-1 (etl.py:404-426): null rates filled with
    their currency's mean, then day-over-day pct deltas for all five
    rates, null→0 on the first day — via unpivot → per-currency mean
    and lag → pivot, so the windows parallelize by currency instead of
    running one global partition."""
    long = df.unpivot("short_date", list(RATE_COLS), "currency", "rate")
    by_currency = Window.partitionBy("currency")
    w = by_currency.orderBy("short_date")
    filled = long.withColumn(
        "rate", F.coalesce(F.col("rate"), F.avg("rate").over(by_currency))
    )
    delta = F.coalesce(
        F.try_divide(F.col("rate"), F.lag("rate", 1).over(w)) - 1, F.lit(0.0)
    )
    long = filled.withColumn("delta", delta)
    wide = (
        long.groupBy("short_date")
        .pivot("currency", list(RATE_COLS))
        .agg(F.first("rate").alias("rate"), F.first("delta").alias("delta"))
    )
    # pivot names columns "<currency>_rate"/"<currency>_delta"
    return wide.select(
        "short_date",
        *[F.col(f"{c}_rate").alias(c) for c in RATE_COLS],
        *[F.col(f"{c}_delta").alias(f"{c}_delta") for c in RATE_COLS],
    )


def load_forex(spark: SparkSession, df: DataFrame, target: str) -> None:
    """R-SNK-2 (etl.py:429-449): upsert keyed on the unique date."""
    write_upsert(spark, df, target, UPSERT_KEYS)


def run_forex_pipeline(spark: SparkSession, rates: DataFrame, btc: DataFrame,
                       target: str) -> DataFrame:
    out = transform_forex(clean_forex(align_sources(rates, btc)))
    load_forex(spark, out, target)
    return out
