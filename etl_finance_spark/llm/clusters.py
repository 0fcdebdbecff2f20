"""Dedup cluster assignment — connected components over near-dup pairs.

The last rung of the dedup ladder (SURVEY.md §2 LLM ops): pair finders
(exact, Jaccard, MinHash-LSH, SimHash) emit EDGES; turning edges into a
canonical representative per duplicate CLUSTER is what lets a pipeline
actually drop documents (keep min doc_id per component, delete the
rest). Small-step min-label propagation, all DataFrame ops.

Registered in its own module (after the aggregates family) so the
driver's ~50-query correctness window ordering in registry.py stays
stable; the implementation it layers on lives in llm/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_spark.catalog import table
from etl_finance_spark.lineage import cut_lineage
from etl_finance_spark.llm.dedup import (
    DOC_CAP, TOKS_CTE_SQL, exact_jaccard_pairs, jaccard_pairs_cte_sql,
)
from etl_finance_spark.registry import register


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(node, component) for every node in `pairs` (columns d1, d2);
    component = the smallest node id reachable from the node.

    Min-label propagation to a FIXPOINT: each pass every node takes the
    min of its own and its neighbors' labels, then pointer-jumps
    (label <- label's label, which collapses label chains so hub-heavy
    graphs converge in few passes). The loop stops when a pass changes
    no label — bounded propagation (a fixed small iteration count)
    silently mislabels any component whose min node sits further than
    the bound from some member, so the fixpoint check is correctness,
    not polish. `max_iter` is a runaway guard only. Each pass is one
    equi-join + one groupBy + one self-join on node id — linear
    shuffles, no driver-side state.

    The fixpoint probe exploits monotonicity (r14, guide §2.4): both
    update rules map a label to something <= itself (merged takes a min
    with the own label among the inputs; the pointer jump substitutes
    label(label) <= label, an invariant from label(x) starting at x and
    only ever decreasing), and the node set is fixed — so the label SUM
    strictly decreases iff any label changed, and sum equality with the
    previous pass IS the fixpoint. One map-side partial aggregate over
    the just-cut frame (it is also the job that materializes the cut)
    replaces the former old-vs-new equi-join + isEmpty probe, which
    cost two node-cardinality shuffles per pass at scale for a boolean
    answer. The sum accumulates as decimal(38,0) (never long) so it
    cannot overflow-wrap into a false fixpoint; the row count rides
    along as a free structural tripwire.

    Lineage management is the non-obvious scale requirement: the label
    frame feeds the next iteration several times, so the unchecked plan
    doubles per pass and optimizer time explodes long before data size
    matters. The edge list and each pass's labels cut lineage via
    `lineage.cut_lineage` — executor-local blocks here, reliable
    `checkpoint()` automatically on any deployment that sets a
    fault-tolerant checkpoint dir; same algorithm, same cadence."""
    edges = pairs.select("d1", "d2")
    sym = cut_lineage(edges.union(
        edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ))
    labels = cut_lineage(
        sym.select(F.col("d1").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def label_sum(frame: DataFrame):
        # (sum, count) fingerprint of a label frame; see docstring —
        # equal fingerprints across a pass mean no label moved
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        ).first()

    prev = label_sum(labels)
    converged = False
    for _ in range(max_iter):
        nbr = sym.join(
            labels.withColumnRenamed("node", "d2"), "d2"
        ).select(F.col("d1").alias("node"), "label")
        merged = (
            labels.union(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        hop = merged.select(
            F.col("node").alias("label"), F.col("label").alias("jumped")
        )
        new_labels = cut_lineage(
            merged.join(hop, "label", "left")
            .select("node", F.coalesce("jumped", "label").alias("label"))
        )
        cur = label_sum(new_labels)
        labels = new_labels
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # Exhausting the guard is indistinguishable from convergence to
        # callers otherwise — and unconverged labels are silently WRONG
        # (some nodes still carry a non-minimal reachable id). Fail loud.
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_iter} "
            "passes; raise max_iter (labels would be unreliable)"
        )
    return labels.select("node", F.col("label").alias("component"))


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {TOKS_CTE_SQL}, {jaccard_pairs_cte_sql(0.5)}, sym AS (
        SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs
    ), reach(node, r) AS (
        SELECT DISTINCT d1, d1 FROM sym
        UNION
        SELECT reach.node, s.d2 FROM reach JOIN sym s ON s.d1 = reach.r
    )
    SELECT node, min(r) AS component FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment over the exact-Jaccard near-dup edges: every
    clustered doc mapped to its component's min doc_id (the survivor).
    The oracle computes the same components via a recursive-CTE
    transitive closure (viable at oracle scale; the Spark side's
    delta-checked label propagation is the distributed formulation), so
    the iterative algorithm is EXACT-checked, not just unit-tested."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < DOC_CAP)
    pairs = exact_jaccard_pairs(docs, tau=0.5)
    return connected_components(pairs)


@register(
    "q_corpus_prep",
    oracle="""
    WITH kept AS (
        SELECT doc_id, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
        WHERE len(string_split(text, ' ')) >= 5
    ), survivors AS (
        SELECT min(doc_id) AS doc_id FROM kept GROUP BY text
    )
    SELECT k.doc_id, k.n_tokens,
           CASE WHEN strpos('0123456789abcdef',
                            substring(md5(k.text), 1, 1)) <= 12 THEN 'train'
                WHEN strpos('0123456789abcdef',
                            substring(md5(k.text), 1, 1)) <= 14 THEN 'val'
                ELSE 'test' END AS split
    FROM kept k
    JOIN survivors s ON s.doc_id = k.doc_id
    """,
)
def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-preparation composite every training
    pipeline runs: quality gate (token floor) → exact dedup keeping the
    min-doc_id survivor → deterministic content-hash split. Three §2
    operators in ONE plan, which is the point: Catalyst fuses the gate
    into the scan, the dedup is the only shuffle (groupBy text), and
    split assignment stays map-side after the semi-join."""
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    kept = d.select("doc_id", "text", n_tokens.alias("n_tokens")).filter(
        F.col("n_tokens") >= 5
    )
    survivors = kept.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    nib = F.instr(
        F.lit("0123456789abcdef"),
        F.substring(F.md5(F.col("text").cast("binary")), 1, 1),
    )
    return (
        kept.join(survivors, "doc_id", "left_semi")
        .select(
            "doc_id",
            "n_tokens",
            F.when(nib <= 12, "train")
            .when(nib <= 14, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


@register(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE strpos('0123456789abcdef', substring(md5(text), 1, 1)) <= 4
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% sample, uniform WITHIN each language stratum
    because the content-hash nibble is independent of lang. Unlike
    sampleBy (seeded pseudo-random over partition order) this is
    reproducible across engines, runs, and repartitions — the property
    an auditable training-data pipeline needs from its sampler."""
    d = table(spark, sf_dir, "documents")
    nib = F.instr(
        F.lit("0123456789abcdef"),
        F.substring(F.md5(F.col("text").cast("binary")), 1, 1),
    )
    return d.filter(nib <= 4).select("doc_id", "lang")


@register(
    "q_weighted_sample",
    oracle="""
    WITH u AS (
        SELECT doc_id, lang, n_chars,
               ((strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1)
                    * 4096.0
                + (strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1)
                    * 256.0
                + (strpos('0123456789abcdef', substring(md5(text), 3, 1)) - 1)
                    * 16.0
                + (strpos('0123456789abcdef', substring(md5(text), 4, 1)) - 1)
                + 0.5) / 65536.0 AS unif
        FROM documents
    ), keyed AS (
        SELECT doc_id, lang,
               round(-ln(unif) / n_chars, 6) AS es_key
        FROM u
    )
    SELECT doc_id, lang, es_key FROM (
        SELECT doc_id, lang, es_key,
               row_number() OVER (
                   PARTITION BY lang ORDER BY es_key, doc_id
               ) AS rn
        FROM keyed
    ) WHERE rn <= 20
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, distributed and
    DETERMINISTIC: the A-ES (exponential sort-key) scheme with the
    "random" uniform derived from the content hash — per-doc key
    -ln(u)/w (weight = n_chars), smallest k keys per language stratum
    win. Selection probabilities follow the weights exactly as in
    Efraimidis–Spirakis, but reruns, repartitions, and both engines
    agree bit-for-bit. Top-k per stratum is a bounded window — at
    scale, a partial top-k aggregate per partition then merge."""
    d = table(spark, sf_dir, "documents")
    md5 = F.md5(F.col("text").cast("binary"))
    def nib(i: int):
        return F.instr(F.lit("0123456789abcdef"), F.substring(md5, i, 1)) - 1
    unif = (
        nib(1) * 4096.0 + nib(2) * 256.0 + nib(3) * 16.0 + nib(4) + 0.5
    ) / 65536.0
    keyed = d.select(
        "doc_id", "lang",
        F.round(-F.log(unif) / F.col("n_chars"), 6).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy("es_key", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "es_key")
    )
