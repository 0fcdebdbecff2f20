"""ML-prep operators over the embeddings table: feature-wise
standardization (the scaler every retrieval / clustering pipeline runs
before distance math). Relational formulation — posexplode to
(vector, dimension, value) triples, aggregate per-dimension moments,
broadcast the 64-row stats table back — so the corpus never collects
and the scan parallelism carries the whole job at 100 TB.

Reference provenance: none in /root/reference/etl.py (the reference
never touches vector data); LLM-mandate surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_finance_spark.catalog import table
from etl_finance_spark.registry import register


@register(
    "q_embed_standardize",
    oracle="""
    WITH flat AS (
        SELECT vec_id, i AS pos, embedding[i + 1] AS e
        FROM embeddings, unnest(generate_series(
            0, len(embedding) - 1)) AS t(i)
    ), stats AS (
        SELECT pos, round(avg(e), 6) AS m, round(stddev_pop(e), 6) AS s
        FROM flat GROUP BY pos
    )
    SELECT vec_id, CAST(pos AS BIGINT) AS pos,
           round((e - m) / s, 6) + 0.0 AS z
    FROM flat JOIN stats USING (pos)
    """,
)
def q_embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus:
    explode vectors to (vec_id, pos, value) triples, compute each
    dimension's mean / population stddev (a 64-row aggregate), and
    broadcast-join the stats back for the scale pass. Two scans of the
    corpus (moments, then apply) but ZERO corpus shuffles: the moment
    aggregate partial-collapses to 64 rows map-side and the apply join
    broadcasts those rows. Stats round 6dp before the division so both
    engines scale by identical constants; z rounds 6dp with the +0.0
    IEEE -0.0 guard (near-zero z is the common case by construction).
    At scale the stats frame persists and the re-assembled array form
    (array_sort + transform over (pos, z) structs) feeds the ANN rungs
    directly."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "e")
    )
    stats = flat.groupBy("pos").agg(
        F.round(F.avg("e"), 6).alias("m"),
        F.round(F.stddev_pop("e"), 6).alias("s"),
    )
    return flat.join(F.broadcast(stats), "pos").select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        (F.round(F.try_divide(F.col("e") - F.col("m"), F.col("s")), 6)
         + 0.0).alias("z"),
    )
