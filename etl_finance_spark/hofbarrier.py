"""Materialization barrier for expensive row-local expressions.

Catalyst's CollapseProject merges adjacent projections, and a merged
projection INLINES a computed column's defining expression into every
use site. For plain expressions whole-stage codegen's subexpression
elimination usually recovers the sharing — but higher-order functions
evaluate their lambda bodies interpreted, per element, and a
loop-invariant subtree that got inlined INTO a lambda re-executes once
per array element. Measured on the r14 profile (sf0.1, warm noop):
word-5-gram shingling re-ran ``split(text)`` once per gram position —
2.17s vs 0.59s with the split materialized; the 32-seed MinHash
projection re-ran ``array_distinct(split(...))`` per seed — 0.51s vs
0.26s. llm/dedup.simhash's per-bit fold hit it first, in round 4: the
token hashing re-ran once per bit (63x; 3.6s vs 1.1s at sf0.1 under the
noop sink).

``barrier(df)`` is that idiom as a shared helper: a Generate node with
row multiplier 1 that CollapseProject cannot cross, so columns computed
below it are materialized once per row and referenced — never
re-inlined — above it. Column pruning and filter pushdown still pass
through a Generate, and the explode of a 1-element literal array is
free at any scale (no shuffle, no row growth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def barrier(df: DataFrame) -> DataFrame:
    """Pin ``df``'s current projection: expressions computed in it are
    evaluated once per row, and consumers above reference the result
    instead of re-inlining the expression (see module docstring)."""
    return df.select(
        "*", F.explode(F.array(F.lit(1))).alias("_hof_barrier")
    ).drop("_hof_barrier")
