"""Domain-pipeline tests: literal frames built to the FIXTURES.md §B
generator hints — nulls for mean-fill, duplicate keys for the upsert,
typo'd desk fields, mismatched forex coverage."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_finance_spark.plans.forex import (
    BTC_RAW_SCHEMA, RATES_RAW_SCHEMA, run_forex_pipeline,
)
from etl_finance_spark.plans.news import NEWS_RAW_SCHEMA, run_news_pipeline
from etl_finance_spark.plans.stocks import RAW_BAR_SCHEMA, run_stock_pipeline


@pytest.fixture()
def tmp_target():
    d = tempfile.mkdtemp(prefix="pipe-")
    yield f"{d}/target"
    shutil.rmtree(d, ignore_errors=True)


def _bars(spark, rows):
    return spark.createDataFrame(
        [(dt.datetime(2024, 1, day), o, h, lo, c, v)
         for day, o, h, lo, c, v in rows],
        RAW_BAR_SCHEMA,
    )


def test_stock_pipeline_semantics(spark, tmp_target):
    msft = _bars(spark, [
        (1, 10.0, 12.0, 9.0, 11.0, 100),
        (2, 11.0, 13.0, 10.0, 12.0, 200),
    ])
    # null close on day 1 → mean-filled with the column mean (= 21.0
    # over [None, 21.0] → 21.0... actually mean of non-null = 21.0)
    aapl = _bars(spark, [
        (1, 20.0, 22.0, 19.0, None, 1000),
        (2, 21.0, 23.0, 20.0, 21.0, 1500),
    ])
    out = run_stock_pipeline(
        spark, [("MSFT", msft), ("AAPL", aapl)], tmp_target
    )
    rows = {(r.stock_name, r.short_date): r for r in out.collect()}
    # per-ticker lag: each ticker's FIRST row is 0 (no cross-ticker seam)
    assert rows[("MSFT", "01-01-2024")].pct_ret == 0.0
    assert rows[("AAPL", "01-01-2024")].pct_ret == 0.0
    # day2 MSFT: open 11 / close_prev 11 - 1 = 0.0; volume 200/100-1 = 1.0
    assert rows[("MSFT", "02-01-2024")].pct_ret == pytest.approx(0.0)
    assert rows[("MSFT", "02-01-2024")].pct_vol == pytest.approx(1.0)
    # null close mean-filled: only non-null close for AAPL-set is 21.0 and
    # MSFT 11,12 → global mean of non-nulls = (11+12+21)/3
    filled = rows[("AAPL", "01-01-2024")]
    # pct_ret day2 uses the filled close
    day2 = rows[("AAPL", "02-01-2024")]
    fill_value = (11.0 + 12.0 + 21.0) / 3
    assert day2.pct_ret == pytest.approx(21.0 / fill_value - 1)

    # upsert idempotency: re-running the same load adds nothing
    run_stock_pipeline(spark, [("MSFT", msft), ("AAPL", aapl)], tmp_target)
    back = spark.read.parquet(tmp_target)
    assert back.count() == 4
    assert back.filter(F.col("short_date").isNotNull()).count() == 0 \
        if "short_date" in back.columns else True


def test_news_pipeline_semantics(spark, tmp_target):
    raw = spark.createDataFrame(
        [
            # normal row, desk under the typo'd key (the live reference path)
            ("2017-01-02T10:00:00+0000", "SNIPPET One", "Big HEADLINE",
             "Business", None, ["Alpha", "BETA"]),
            # desk under the correct key
            ("2017-01-03T11:00:00+0000", "Second snippet", "Other Headline",
             None, "Technology", ["Gamma"]),
            # desk not in allowlist → dropped
            ("2017-01-04T12:00:00+0000", "snip", "head", "Sports", None, []),
            # empty headline → dropped by the non-empty filter
            ("2017-01-05T13:00:00+0000", "snip", "", "Business", None, []),
            # unparseable date → time_stamp null but row survives
            ("2017-01-06", "date only", "dated headline", "World", None, []),
        ],
        NEWS_RAW_SCHEMA,
    )
    out = run_news_pipeline(spark, raw, tmp_target)
    rows = sorted(out.collect(), key=lambda r: (r.time_stamp or 0))
    assert len(rows) == 3
    by_head = {r.headline: r for r in rows}
    assert "big headline" in by_head  # lowercased
    assert by_head["big headline"].keywords == ["alpha", "beta"]
    assert by_head["big headline"].short_date == "02-01-2017"
    assert by_head["dated headline"].time_stamp is not None  # date-only parse
    # idempotent reload
    run_news_pipeline(spark, raw, tmp_target)
    assert spark.read.parquet(tmp_target).count() == 3


def test_forex_pipeline_semantics(spark, tmp_target):
    d = dt.date
    rates = spark.createDataFrame(
        [
            (d(2018, 1, 1), 0.8, 0.7, 8.0, 6.0),
            (d(2018, 1, 2), 0.9, 0.7, 8.0, 6.0),
            (d(2018, 1, 3), 0.9, 0.7, 8.0, 6.0),
        ],
        RATES_RAW_SCHEMA,
    )
    btc = spark.createDataFrame(
        [
            (d(2018, 1, 2), 14000.0),
            (d(2018, 1, 3), 15000.0),
            (d(2018, 1, 4), 16000.0),  # date with no rates → outer row
        ],
        BTC_RAW_SCHEMA,
    )
    out = run_forex_pipeline(spark, rates, btc, tmp_target)
    rows = {r.short_date.isoformat(): r for r in out.collect()}
    assert len(rows) == 4  # union of both date sets (full outer)
    # day1 btc was null → mean-filled with avg(14000, 15000, 16000)
    assert rows["2018-01-01"].usd_to_btc == pytest.approx(15000.0)
    # eur delta day2 = 0.9/0.8 - 1
    assert rows["2018-01-02"].usd_to_eur_delta == pytest.approx(0.9 / 0.8 - 1)
    # first day deltas are 0
    assert rows["2018-01-01"].usd_to_eur_delta == 0.0
    # idempotent reload
    run_forex_pipeline(spark, rates, btc, tmp_target)
    assert spark.read.parquet(tmp_target).count() == 4


def _load_jobs(spark, group, load) -> int:
    """Spark jobs one load runs, counted by its job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        load()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_steady_state_loads_pin_job_counts(spark, tmp_path):
    """A steady-state load (the target exists) runs only the jobs its
    result needs: no schema-inference job on the target, no
    re-deduplication of the target's keys, and no global mean
    aggregate in forex. Increments are staged as parquet, like a
    landing zone; the second increment re-delivers half of the first."""
    d = dt.date
    bars, news, rates, btc = {}, {}, {}, {}
    for i in (0, 1):
        days = range(1 + 5 * i, 11 + 5 * i)
        bars[i] = _bars(spark, [(day, 10.0 + day, 12.0, 9.0,
                                 None if day == 3 else 11.0 + day, 100 * day)
                                for day in days])
        news[i] = spark.createDataFrame(
            [(f"2017-01-{day:02d}T10:00:00+0000", f"snippet {day}",
              f"Headline {day}", "Business", None, ["K"]) for day in days],
            NEWS_RAW_SCHEMA)
        rates[i] = spark.createDataFrame(
            [(d(2018, 1, day), 0.8 + day / 100, None if day == 4 else 0.7,
              8.0, 6.0) for day in days], RATES_RAW_SCHEMA)
        btc[i] = spark.createDataFrame(
            [(d(2018, 1, day + 1), 14000.0 + day) for day in days],
            BTC_RAW_SCHEMA)

    def staged(df, name):
        path = str(tmp_path / "landing" / name)
        df.write.parquet(path)
        return spark.read.schema(df.schema).parquet(path)

    def stock_load(i):
        frames = [("MSFT", staged(bars[i], f"bars_{i}"))]
        return lambda: run_stock_pipeline(spark, frames, str(tmp_path / "stocks"))

    def news_load(i):
        raw = staged(news[i], f"news_{i}")
        return lambda: run_news_pipeline(spark, raw, str(tmp_path / "news"))

    def forex_load(i):
        r, b = staged(rates[i], f"rates_{i}"), staged(btc[i], f"btc_{i}")
        return lambda: run_forex_pipeline(spark, r, b, str(tmp_path / "forex"))

    for domain, load, ceiling, keys in (("stocks", stock_load, 5, 15),
                                        ("news", news_load, 3, 15),
                                        ("forex", forex_load, 6, 16)):
        load(0)()  # creates the target
        jobs = _load_jobs(spark, f"steady-{domain}", load(1))
        assert jobs <= ceiling, f"{domain}: {jobs} jobs per steady-state load"
        assert spark.read.parquet(str(tmp_path / domain)).count() == keys
