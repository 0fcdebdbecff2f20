"""News pipeline — the reference's NewsETL re-expressed
(/root/reference/etl.py:194-341) as composable DataFrame stages.

The reference walks NYTimes archive JSON dicts in Python (etl.py:
273-291); here the payload lands as typed columns (via
sources.readers.read_json / from_api_payload with NEWS_RAW_SCHEMA) and
every step is columnar.

Documented divergences (SURVEY.md §2.1 bug ledger): the engine ingests
*every* requested month (the reference `break`s after the first,
etl.py:294); the 'new_desk'/'news_desk' typo fallback (etl.py:277)
becomes an explicit coalesce; rows lacking both fields filter out
instead of raising KeyError (etl.py:285-286).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, StringType, StructField, StructType,
)

from etl_finance_spark.operators.core import (
    coalesce_fields, drop_empty_strings, keep_members,
)
from etl_finance_spark.sources.sinks import write_upsert

# etl.py:258-259 — the desk allowlist.
IMPORTANT_DESKS = (
    "Business", "Foreign", "Business Day", "Financial", "National",
    "Small Business", "Technology", "World",
)

# Raw doc shape after JSON flattening (response.docs[] projection,
# etl.py:273-291): both desk spellings present because the upstream
# payload itself is inconsistent.
NEWS_RAW_SCHEMA = StructType([
    StructField("pub_date", StringType()),
    StructField("snippet", StringType()),
    StructField("headline", StringType()),
    StructField("new_desk", StringType()),
    StructField("news_desk", StringType()),
    StructField("keywords", ArrayType(StringType())),
])

UPSERT_KEYS = ("time_stamp", "headline")


def filter_news(df: DataFrame) -> DataFrame:
    """R-FIL-1 + R-FIL-3 (etl.py:258-259, 274-291): resolve the desk
    field across both spellings, then apply the allowlist."""
    resolved = coalesce_fields(df, "desk", "new_desk", "news_desk")
    return keep_members(resolved, "desk", IMPORTANT_DESKS)


def clean_news(df: DataFrame) -> DataFrame:
    """R-STR-1 + R-ARR-1 + R-FIL-2 (etl.py:298-308): lowercase scalar
    and array fields, drop empty snippet/headline."""
    lowered = df.withColumns({
        "snippet": F.lower("snippet"),
        "headline": F.lower("headline"),
        "keywords": F.transform(F.col("keywords"), lambda k: F.lower(k)),
    })
    return drop_empty_strings(lowered, "snippet", "headline")


def transform_news(df: DataFrame) -> DataFrame:
    """R-DT-1/2 (etl.py:311-319): NYTimes timestamp string → epoch
    seconds + dd-MM-yyyy short date. The reference's exception-driven
    multi-format parse (etl.py:33-49) is a declarative coalesce of
    try_to_timestamp attempts."""
    ts = F.coalesce(
        F.try_to_timestamp(F.col("pub_date"), F.lit("yyyy-MM-dd'T'HH:mm:ssZ")),
        F.try_to_timestamp(F.col("pub_date"), F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(F.col("pub_date"), F.lit("yyyy-MM-dd")),
    )
    return df.select(
        F.unix_timestamp(ts).alias("time_stamp"),
        F.date_format(ts, "dd-MM-yyyy").alias("short_date"),
        "snippet",
        "headline",
        "keywords",
    )


def load_news(spark: SparkSession, df: DataFrame, target: str) -> None:
    """R-SNK-2 (etl.py:322-341): keyed upsert on UPSERT_KEYS."""
    write_upsert(spark, df, target, UPSERT_KEYS)


def run_news_pipeline(spark: SparkSession, raw: DataFrame,
                      target: str) -> DataFrame:
    out = transform_news(clean_news(filter_news(raw))).drop("desk")
    load_news(spark, out, target)
    return out
