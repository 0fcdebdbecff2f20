"""Shared co-purchase graph build (used by q_copurchase_pairs,
q_pagerank, q_triangle_count).

Three declared queries analyze the same graph: parts are linked when
they appear together in at least ``MIN_ORDERS`` orders. Rebuilding that
edge rollup per query repeats the most expensive part of each plan (the
order-keyed self-join + pair aggregation) three times — a shared
dimension/graph build is materialized ONCE in any real warehouse and
every consumer reads the materialization. This helper is that seam:

- one canonical edge frame ``(p1, p2, n_orders)`` (p1 < p2, threshold
  applied), built by aggregating each order's distinct part set into a
  sorted basket array (one exchange, map-side partial collect_set) and
  generating the p1 < p2 pairs row-locally from it — pair fan-out
  bounded by basket size squared, never keyed on the part (the
  skew-safe orientation), and two exchanges total where the pre-r14
  self-join shape paid four;
- baskets larger than ``MAX_BASKET`` distinct parts are dropped BEFORE
  any pair generates. The per-order fan-out is quadratic in basket
  size, so one pathological mega-order (a bulk B2B purchase, a bot
  cart, a data error) with 10^5 lines would emit 10^10 pairs — here it
  is one oversized array row that the size filter discards before the
  explode. Market-basket practice caps or discards such baskets as
  non-signal; the cap rides far above organic basket sizes (fixtures
  max out at 17 distinct parts; the TPC-H spec caps at 7 lines).
  Applied identically in the DuckDB oracles via ``ITEMS_CTE_SQL`` —
  capped semantics are THE semantics, not a Spark-side approximation;
- ``.persist()``-ed (MEMORY_AND_DISK — evictable and spillable, unlike
  a checkpoint) and memoized per (applicationId, sf_dir), so the three
  consumers share one cache entry instead of three rebuilds;
- consumers project/reorient it (copurchase keeps the count, triangle
  and PageRank take the oriented/symmetrized id pairs).

At 100 TB the memo is the hook where the edge list becomes a bucketed
table maintained incrementally; the query shapes downstream do not
change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from etl_finance_spark.catalog import table
from etl_finance_spark.lineage import ensure_persisted
from etl_finance_spark.memo import session_memo

MIN_ORDERS = 2  # co-purchase edge threshold shared by all three consumers
MAX_BASKET = 256  # mega-basket guard; see module docstring

# The capped item set as a DuckDB CTE body — every graph-query oracle
# interpolates this one string, so the Spark build and the three
# oracles can never drift apart.
ITEMS_CTE_SQL = f"""items AS (
        SELECT l_orderkey, l_partkey FROM (
            SELECT l_orderkey, l_partkey,
                   count(*) OVER (PARTITION BY l_orderkey) AS bsz
            FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        ) WHERE bsz <= {MAX_BASKET}
    )"""

_EDGE_MEMO: dict[tuple[str, str], DataFrame] = {}


def basket_pairs(a: str, b: str) -> Column:
    """All (parts[i], parts[j]) with i < j of a sorted ``parts`` array
    column, as structs ``(a, b)`` — row-local, fan-out bounded by basket
    size squared. The ascending sort makes a < b by construction: no
    orientation filter, no dedup needed."""
    return F.flatten(F.transform(
        F.col("parts"),
        lambda x, i: F.transform(
            F.slice(F.col("parts"), i + F.lit(2), F.size(F.col("parts"))),
            lambda y: F.struct(x.alias(a), y.alias(b)),
        ),
    ))


def edges_from_items(items: DataFrame,
                     min_orders: int = MIN_ORDERS,
                     max_basket: int = MAX_BASKET) -> DataFrame:
    """Thresholded co-purchase edges from an (l_orderkey, l_partkey)
    frame (duplicates tolerated — collect_set dedups in-aggregate).

    Shape (r14, guide §2.4): ONE exchange builds per-order baskets
    (groupBy + collect_set with map-side partials), the p1 < p2 pairs
    then generate ROW-LOCALLY from the sorted basket array, and the
    pair rollup is the second and final exchange. The prior shape spent
    FOUR exchanges on the same result — distinct, basket-size window,
    order-keyed self-join, pair groupBy — and moved the item list twice
    more through the self-join's two shuffled sides. The mega-basket
    cap is also strictly better here: it drops a single basket ROW
    before the quadratic pair fan-out ever materializes (the window
    formulation capped one join side only after shuffling both), so
    the pathological 10^5-line order costs one 800 KB aggregation
    buffer instead of a shuffled straggler key. Pair-for-pair identical
    output: bsz = size of the distinct part set, pairs = all p1 < p2
    combinations, counts unchanged (property-tested against the Python
    brute force in tests/test_property.py)."""
    baskets = (
        items.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= max_basket)
    )
    return (
        baskets.select(F.explode(basket_pairs("p1", "p2")).alias("pr"))
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical thresholded co-purchase edges: (p1 < p2, n_orders)."""
    def build() -> DataFrame:
        # no .distinct() — edges_from_items' collect_set dedups inside
        # the same exchange the basket build needs anyway (r14: the
        # standalone distinct was a third full shuffle of the item list)
        items = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        return edges_from_items(items).persist()

    # self-heal against an external release draining a shared cache
    # entry (see similarity._corpus_unit_vecs for the ordering hazard)
    return ensure_persisted(session_memo(_EDGE_MEMO, spark, sf_dir, build))
