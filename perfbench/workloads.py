"""Workload definitions: the pinned query lists and their scale.

``BENCHMARK.json`` names the workloads and says why each exists;
README.md maps each per-layer metric to the end-to-end metric and
workload it should move.
"""

from __future__ import annotations

# Fixture-table scale factor of every workload. Data work is negligible
# at this scale; what is measured is per-query construction, scheduling
# and memo/lineage behaviour.
SF = 0.01

# Warm-up queries run after every SparkContext start (bench.py's JVM
# warm-ups). None of them is measured.
WARMUPS = ("q_scan_parquet", "q_agg_groupby", "q_win_rownum")

# iterative: the queries whose construction runs jobs (lineage cuts,
# fixpoint probes) and the consumers of the shared session memos. Three
# consumers share each build: the co-purchase edges (q_copurchase_pairs,
# q_pagerank, q_triangle_count) and the IVF model over the unit corpus
# (q_ann_ivf_topk, q_ivfpq_topk, q_semantic_dedup; Lloyd training runs
# inside the build, and the corpus memo under it also feeds the PQ
# codebook build of q_ivfpq_topk).
ITERATIVE = (
    "q_dedup_clusters", "q_pagerank", "q_triangle_count",
    "q_copurchase_pairs", "q_ann_ivf_topk", "q_ivfpq_topk",
    "q_semantic_dedup", "q_recursive_bfs",
)

# etl_load: increments per pass (increment 0 creates the targets, the
# five after it go through the keyed upsert; the last two are the last
# quarter of ``sinks.load_growth``), and the two declared queries that
# write.
INCREMENTS = 6
ETL_QUERIES = ("q_backfill_partitions", "q_incremental_ingest")

WORKLOADS = ("iterative", "etl_load")
