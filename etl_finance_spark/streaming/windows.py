"""Streaming surface (SURVEY.md §2.3 X-STR-1..6).

Design rule: every aggregation is written once as a DataFrame
transformation that works in BOTH batch and streaming mode (Structured
Streaming runs the same Catalyst plan per micro-batch). The declared
queries run the batch form (t2-oracle-able); tests/test_streaming.py
runs the same functions under ``readStream`` and asserts stream/batch
equivalence — the property SURVEY.md §5 layer 3 demands.

Watermarks bound state: at 100 TB-scale streams the tumbling/session
state store only retains windows newer than (max event time − delay);
the RocksDB state store backend is a config away in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_finance_spark.catalog import table
from etl_finance_spark.registry import register

SESSION_GAP = "30 minutes"


def tumbling_counts(events: DataFrame) -> DataFrame:
    """X-STR-1: 1-hour tumbling window counts per event type."""
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """X-STR-2: 1-hour windows sliding every 15 minutes (each event
    lands in 4 windows)."""
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_counts(events: DataFrame) -> DataFrame:
    """X-STR-3: per-user session windows with a 30-minute gap. A new
    session starts only when the gap since the previous event EXCEEDS
    the threshold — Spark merges an event landing exactly at last+gap
    (verified by a hypothesis counterexample; the oracle mirrors with a
    strict `>`)."""
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("session_window.start")).alias(
                "session_start"
            ),
            "user_id",
            "n",
        )
    )


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """X-STR-4: event-time watermark — bounds state and drops rows later
    than (max seen ts − delay). No batch oracle (depends on arrival
    order); behavior unit-tested with a deterministic file stream.

    Spark only watermarks TIMESTAMP (instant) columns, not NTZ — the
    wall-clock ts is reinterpreted as UTC (session tz is pinned) before
    the watermark attaches."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.withWatermark("ts", delay)


def streaming_dedup(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """X-STR-5: keyed dedup with watermark-bounded state (the streaming
    generalization of R-SNK-2's unique-index contract).

    Uses ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates`` on
    a non-event-time key keeps state FOREVER and never drops late rows
    (watermark only applies when the event-time column is in the keys —
    verified empirically); the WithinWatermark variant is the bounded-
    state form a 100 TB stream requires."""
    if not events.isStreaming:
        # batch semantics: identical to the unique-key dedup
        return events.dropDuplicates(["event_id"])
    return with_watermark(events, delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def read_event_stream(spark: SparkSession, path: str, schema,
                      fmt: str = "parquet",
                      max_files_per_trigger: int | None = 1) -> DataFrame:
    """Schema'd file-source stream over a directory of drops — the ONE
    reader seam for both the deterministic test harness (the default
    one-file-per-micro-batch) and incremental ingestion
    (streaming/ingest.py, which passes its own bound or None for
    whole-backlog batches). A schema is required by signature: a
    streaming file source must never pay a directory-inference scan
    per run. Cloud object stores with notification services layer
    their options onto this same reader."""
    if max_files_per_trigger is not None and max_files_per_trigger < 1:
        raise ValueError(
            f"max_files_per_trigger must be >= 1, got "
            f"{max_files_per_trigger}")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def foreach_batch_upsert(target_path: str, keys: list[str]):
    """X-STR-6: sink factory — returns a foreachBatch function applying
    the R-SNK-2 anti-join upsert (sources.sinks.write_upsert) per
    micro-batch, making redelivered batches idempotent (insert-if-absent
    on the key, /root/reference/etl.py:182-191 generalized). Only a
    missing target means "first batch"; a corrupt target raises rather
    than append redelivered rows without the anti-join."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # not at module level: importing sinks registers its declared
        # query, which would move it ahead of this module's in collect()
        from etl_finance_spark.sources.sinks import write_upsert

        write_upsert(batch_df.sparkSession, batch_df, target_path, keys)

    return sink


# ---------------------------------------------------------------------------
# Declared queries (batch forms — same plan Structured Streaming runs)
# ---------------------------------------------------------------------------


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour',
                                        date_trunc('microseconds', ts))))
                AS BIGINT) AS window_start,
           event_type,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(table(spark, sf_dir, "events"))


@register(
    "q_stream_sliding",
    oracle="""
    WITH slid AS (
        SELECT event_type,
               time_bucket(INTERVAL '15 minutes',
                           date_trunc('microseconds', ts))
                   - k * INTERVAL '15 minutes' AS window_start
        FROM events
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    )
    SELECT CAST(floor(epoch(window_start)) AS BIGINT) AS window_start,
           event_type,
           count(*) AS n
    FROM slid
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle expands each event into its 4 containing windows — the
    definitionally equivalent formulation."""
    return sliding_counts(table(spark, sf_dir, "events"))


@register(
    "q_stream_session",
    oracle="""
    WITH e AS (
        -- pre-truncate in a subquery: a bare `lag(ts)` next to a
        -- `date_trunc(...) AS ts` alias binds to the RAW ns column in
        -- DuckDB, silently running the 30-min gap test at ns precision
        -- while Spark sees µs (round-1 ADVICE)
        SELECT user_id, date_trunc('microseconds', ts) AS ts FROM events
    ), marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), grouped AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM marked
    )
    SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           user_id,
           count(*) AS n
    FROM grouped
    GROUP BY user_id, session_id
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window vs the classic gaps-and-islands oracle; boundary
    semantics pinned to strictly-greater-than-gap on both sides
    (SURVEY.md §7.3 item 5; Spark merges at exact-gap distance)."""
    return session_counts(table(spark, sf_dir, "events"))
