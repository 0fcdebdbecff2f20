"""Multimodal columns (BASELINE.json north-star mandate).

Media are opaque ``binary`` payloads with typed metadata structs; all
Spark-side plumbing (schema, partitioning, Arrow batch shape) is real.
The *decode* step is a deterministic stand-in (``_decode_fake``, byte
window means) and the only decode path, whatever image libraries are
installed — swapping in PIL/librosa changes only that function, not
the plan.

The media table is synthesized deterministically from `documents`
(payload = UTF-8 bytes of text; metadata derived from n_chars/source),
so EXACT oracles exist for the metadata path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType,
    StructField, StructType,
)

from etl_finance_spark.catalog import table
from etl_finance_spark.registry import register

FORMATS = ("png", "jpeg", "webp")


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (media_id, payload binary, metadata struct).

    At 100 TB this is the layout contract: payload stays an opaque
    binary column (parquet keeps it out of dictionary encoding),
    metadata is a typed struct so pruning/predicates never touch bytes.
    """
    docs = table(spark, sf_dir, "documents")
    fmt_idx = F.pmod(F.xxhash64("source"), F.lit(len(FORMATS)))
    fmt = (
        F.when(fmt_idx == 0, FORMATS[0])
        .when(fmt_idx == 1, FORMATS[1])
        .otherwise(FORMATS[2])
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            fmt.alias("fmt"),
            (64 + F.pmod(F.col("n_chars"), F.lit(512))).cast("int").alias("width"),
            (64 + F.pmod(F.col("n_chars") * 7, F.lit(512))).cast("int")
            .alias("height"),
        ).alias("metadata"),
    )


FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("mean_byte", DoubleType()),
    StructField("features", ArrayType(DoubleType())),
])

N_FEATURES = 4


def _decode_fake(payload: bytes) -> list[float] | None:
    """Deterministic stand-in for decode→feature-extract: chunk the
    bytes into N_FEATURES windows and take per-window byte means
    (numpy-vectorized — the batch shape a real decoder would use).
    Empty payloads yield NULL (there is no mean of zero bytes), which
    matches the SQL convention (`list_avg([])` is NULL) the oracles use."""
    import numpy as np

    if not payload:
        return None
    arr = np.frombuffer(payload, dtype=np.uint8)
    step = max(1, len(arr) // N_FEATURES)
    out = []
    for i in range(0, step * N_FEATURES, step):
        chunk = arr[i: i + step]
        out.append(float(chunk.mean()) if chunk.size else 0.0)
    return out[:N_FEATURES]


def _feature_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body of extract_features: one output row per media
    row (module-level so it can be called on a plain pandas batch)."""
    import numpy as np

    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame({
            "media_id": pdf["media_id"],
            "n_bytes": payloads.map(len),
            "mean_byte": [
                float(np.frombuffer(p, dtype=np.uint8).mean()) if p else None
                for p in payloads
            ],
            "features": [_decode_fake(p) for p in payloads],
        })


def extract_features(media: DataFrame) -> DataFrame:
    """Decode/feature-extract as mapInPandas: Arrow-batched, schema
    pinned, one output row per media row. The pandas batch is the unit
    of work an executor core processes — no driver involvement."""
    return media.mapInPandas(_feature_batches, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_bytes", BinaryType()),
])


def sample_frames(media: DataFrame, n_frames: int = 3) -> DataFrame:
    """Frame-sampling shape (video analog): one input row fans out to
    n_frames output rows — byte-slice chunks standing in for decoded
    frames. mapInPandas because the fan-out ratio is data-dependent in
    the real case."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_bytes": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n = len(payload)
                step = max(1, n // n_frames)
                for fi in range(n_frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(fi)
                    out["frame_bytes"].append(payload[fi * step:(fi + 1) * step])
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


@register(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id,
           length(text) AS n_bytes,
           md5(text) AS payload_md5,
           64 + n_chars % 512 AS width,
           64 + (n_chars * 7) % 512 AS height
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata path over real binary payloads (EXACT: text is ASCII so
    byte length == char length and md5 agrees)."""
    m = media_table(spark, sf_dir)
    return m.select(
        "media_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("metadata.width").cast("long").alias("width"),
        F.col("metadata.height").cast("long").alias("height"),
    )


@register(
    "q_multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           round(list_avg(list_transform(
               generate_series(1, length(text)),
               i -> ascii(substring(text, i, 1)))), 6) AS mean_byte
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-stub features through the mapInPandas Arrow path, EXACT-
    checked (round 2; was rows-only): payloads are ASCII, so the numpy
    byte mean equals the oracle's character-code mean — the Python
    decode plumbing itself is what the oracle now verifies. Batch shape
    and per-window features stay unit-tested."""
    feats = extract_features(media_table(spark, sf_dir))
    return feats.select(
        "media_id", "n_bytes", F.round("mean_byte", 6).alias("mean_byte")
    )


@register(
    "q_multimodal_frames",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id, text, length(text) AS n
        FROM documents
    ), f AS (
        SELECT media_id, text, n,
               greatest(1, n // 3) AS step,
               unnest([0, 1, 2]) AS frame_idx
        FROM m
    )
    SELECT media_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(length(substring(text, frame_idx * step + 1, step))
                AS BIGINT) AS frame_len,
           md5(substring(text, frame_idx * step + 1, step)) AS frame_md5
    FROM f
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video-analog fan-out DECLARED (round 2): each media row
    explodes to 3 frame rows through the mapInPandas sampler; payloads
    are ASCII so byte-slice frames equal the oracle's substrings and the
    whole fan-out is EXACT-checkable (length + md5 per frame)."""
    frames = sample_frames(media_table(spark, sf_dir), n_frames=3)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.octet_length("frame_bytes").cast("long").alias("frame_len"),
        F.md5("frame_bytes").alias("frame_md5"),
    )
