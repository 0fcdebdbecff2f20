"""Distributed graph algorithms over edge-list DataFrames.

PageRank here; connected components lives in llm/clusters.py (both
follow the same iterative discipline: linear-shuffle passes, loop
invariants materialized once, deployment-aware lineage cuts
(lineage.cut_lineage), nothing collected to the driver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_spark.lineage import cut_lineage


def pagerank(edges: DataFrame, damp: float, iters: int) -> DataFrame:
    """Power-iteration PageRank over a directed (src, dst) edge list,
    returning (node, pr) after ``iters`` fixed passes with ``damp``
    damping. Precondition: every node appears as a src (out-degree
    >= 1) — a symmetrized undirected graph satisfies this; with true
    dangling nodes a caller must add self-loops or a dangling-mass
    term first.

    Scale shape (VERDICT r3): each pass is one equi-join on src + one
    groupBy on dst. 1/out-degree folds into the edge weight ONCE at
    build time via a window over src (the same shuffle key the
    per-pass join uses), so there is no per-pass degree join and no
    broadcast of the node-cardinality degree table. The edge frame and
    the teleport base (the loop invariants) cut lineage once
    (lineage.cut_lineage: executor-local or reliable per deployment) —
    left lazy, the node-set distinct would re-execute inside every
    pass — and each pass's ranks cut lineage likewise.
    Property-tested against a Python power-iteration reference in
    tests/test_property.py."""
    sym = cut_lineage(edges.withColumn(
        "w",
        F.lit(1.0) / F.count("*").over(Window.partitionBy("src")).cast("double"),
    ))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    base = cut_lineage(nodes.crossJoin(F.broadcast(nn)).select(
        "node",
        (F.lit(1.0) / F.col("n")).alias("pr0"),
        ((1 - damp) / F.col("n")).alias("teleport"),
    ))
    pr = base.select("node", F.col("pr0").alias("pr"))
    for _ in range(iters):
        contrib = (
            sym.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") * F.col("w")).alias("contrib"))
        )
        pr = cut_lineage(base.join(contrib, "node", "left").select(
            "node",
            (F.col("teleport") + damp * F.coalesce("contrib", F.lit(0.0)))
            .alias("pr"),
        ))
    return pr


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count over an undirected edge list given as
    canonical (p1 < p2) pairs, distributed compact-forward style
    (Latapy; Suri & Vassilvitskii's MapReduce formulation).

    Edges re-orient from the lower- to the higher-(degree, id)
    endpoint, so each triangle with rank order a ≺ b ≺ c is counted
    exactly once as (a,b)x(b,c)x(a,c) — two equi-joins, no post-filter
    dedup — and the count equals any other one-per-triangle
    orientation (e.g. plain id order). Degree ordering is the skew
    guard id ordering is not: every node's OUT-degree is bounded by
    ~sqrt(2m) (a hub ranks last, so its edges all point in and it
    fans out nothing), which bounds the wedge join's per-key fan-out
    in(b)·out(b); under id order one low-id hub would emit deg²
    wedges under a single key. The degree frame joins plain (no
    broadcast hint — it is node-cardinality and AQE must stay free to
    choose); the final count collapses map-side."""
    deg = (
        edges.select(F.col("p1").alias("v"))
        .unionAll(edges.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    g = (
        edges.join(
            deg.select(F.col("v").alias("p1"), F.col("d").alias("d1")), "p1")
        .join(deg.select(F.col("v").alias("p2"), F.col("d").alias("d2")),
              "p2")
    )
    p1_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    # the oriented frame feeds all three join branches — cut lineage
    # once or each branch re-executes the degree joins; a reliable
    # cut's persist drains via lineage.release_cuts() after consumption
    # (lineage.py contract)
    o = cut_lineage(g.select(
        F.when(p1_first, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(p1_first, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
    ))
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").alias("n_triangles"))
    )
