"""Similarity search over embeddings (SURVEY.md §2.2 X-LLM-4/8).

Two rungs, same contract as the dedup ladder:

1. **Brute-force exact cosine top-k** (`q_cosine_topk`): query-set ×
   corpus with the dot product as a JVM higher-order expression
   (zip_with + aggregate — no UDF, no Python). Exact; quadratic.
2. **Sign-LSH bucketed ANN** (`q_ann_lsh_topk`): 16 deterministic ±1
   hyperplanes → 16-bit bucket; candidates only meet inside a bucket,
   then exact re-rank. The 100 TB path: the corpus partitions by
   bucket, queries broadcast to their bucket's partition.

Floats are cast to double *before* any arithmetic (float32 ulps differ
across engines; double products of exactly-converted floats agree).
"""

from __future__ import annotations

import hashlib
from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_spark.catalog import table
from etl_finance_spark.lineage import (
    cut_lineage, ensure_persisted, managed_persist,
)
from etl_finance_spark.memo import session_memo
from etl_finance_spark.operators.scale import salted_join
from etl_finance_spark.registry import register

N_QUERY = 100  # query-set bound: vec_id < 100 (scale-stable)
TOP_K = 5
N_PLANES = 16
N_BANDS = 4  # OR-construction: candidate if ANY 4-bit band matches
DIM = 64


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """<a, b> as a codegen'd fold — left-to-right, deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def with_unit_vec(df: DataFrame, col: str = "embedding",
                  out: str = "vec") -> DataFrame:
    """Cast float[]→double[], attach the L2 norm (kept separate rather
    than pre-normalizing so cosine = dot/(na·nb) matches the oracle's
    formulation term-for-term)."""
    return df.withColumn(out, _as_double(F.col(col))).withColumn(
        "nrm", l2_norm(F.col(out))
    )


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Ranks by the *rounded* cosine with vec_id tiebreak so the selected
    row set is stable across engines (an unrounded rank could flip on
    1-ulp summation differences — SURVEY.md §7.3 item 4 applied to
    floats)."""
    # Deterministic sides: ALWAYS broadcast the bounded query set and
    # stream the corpus. Left to size estimates, the planner's pick
    # flips with cache state (a just-materialized InMemoryRelation
    # reports real stats, a cold scan reports file size), and the wrong
    # pick streams the 100-row side — serializing the whole k x N dot-
    # product fan-out onto its 1-2 partitions. The corpus side also
    # rebalances to the configured shuffle parallelism first: the
    # per-row compute here is heavy (|Q| x 64-dim folds per corpus
    # row), so task balance is worth one linear corpus exchange — the
    # quadratic compute it feeds dominates it asymptotically, and the
    # fixture corpus otherwise arrives as 1-2 parquet splits.
    pairs = (
        _side(vectors, "c").hint("rebalance")  # AQE right-sizes the corpus
        .crossJoin(F.broadcast(_side(queries, "q")))
        .filter(F.col("cid") != F.col("qid"))
    )
    return _topk_by_cosine(pairs, k)


def _side(df: DataFrame, p: str) -> DataFrame:
    """One side of a cosine pair: ``{p}id``, ``{p}v``, ``{p}n`` from a
    with_unit_vec frame (p = "q" for queries, "c" for the corpus)."""
    return df.select(
        F.col("vec_id").alias(f"{p}id"), F.col("vec").alias(f"{p}v"),
        F.col("nrm").alias(f"{p}n"),
    )


def _topk_by_cosine(pairs: DataFrame, k: int) -> DataFrame:
    """THE top-k decision every cosine rung ends in: rank each query's
    (qid, cid) pairs by the ROUNDED cosine with cid tiebreak and keep k
    (see cosine_topk for why the rank uses the rounded value)."""
    cos = F.round(
        dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        pairs.withColumn("cosine", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cosine")
    )


def exact_rerank(cand: DataFrame, queries: DataFrame, vectors: DataFrame,
                 k: int) -> DataFrame:
    """Exact cosine top-k over an ANN rung's (qid, cid) candidates:
    vectors re-attach only now — the bounded query side broadcast, the
    corpus side joined on cid — so candidate generation and its dedup
    shuffle ids, never 64-dim arrays."""
    pairs = cand.join(F.broadcast(_side(queries, "q")), "qid").join(
        _side(vectors, "c"), "cid"
    )
    return _topk_by_cosine(pairs, k)


def _planes(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 bytes (public, seedless —
    reproducible across sessions and engines)."""
    planes = []
    for p in range(n_planes):
        bits = []
        i = 0
        while len(bits) < dim:
            h = hashlib.md5(f"plane-{p}-{i}".encode()).digest()
            for byte in h:
                for k in range(8):
                    bits.append(1.0 if (byte >> k) & 1 else -1.0)
            i += 1
        planes.append(bits[:dim])
    return planes


def _planes_df(spark: SparkSession, n_planes: int = N_PLANES,
               n_bands: int = N_BANDS) -> DataFrame:
    """The hyperplane set PACKED into one broadcast row:
    bands = array<struct<band_idx:int, planes:array<array<double>>>>.
    A literal-expression encoding (16×64 literals inlined into one
    projection) costs seconds of codegen; a 1-row broadcast cross join
    costs nothing, keeps the plan readable, and lets the band bits fold
    map-side (see lsh_band_keys)."""
    planes = _planes(n_planes)
    per_band = n_planes // n_bands
    row = [
        [
            (bi, [planes[bi * per_band + r] for r in range(per_band)])
            for bi in range(n_bands)
        ]
    ]
    return spark.createDataFrame(
        [row],
        "bands array<struct<band_idx:int, planes:array<array<double>>>>",
    )


# 2^r lookup for the in-band bit fold (supports bands up to 16 bits)
_POW2 = [1 << k for k in range(16)]


def lsh_band_keys(df: DataFrame, n_planes: int = N_PLANES,
                  n_bands: int = N_BANDS) -> DataFrame:
    """Banded sign-LSH (OR-construction): ``n_planes`` hyperplane sign
    bits split into ``n_bands`` bands (default 16 into 4x4); a pair is
    a candidate if *any* band agrees. Exact full-width bucket equality
    has near-zero recall on unclustered vectors; banding trades
    candidate-set size for recall the standard way. Emits
    (vec_id, band_idx, band_bits) — ids only; vectors re-attach after
    candidate dedup.

    BITS-PER-BAND IS THE SCALE KNOB: random signatures collide per
    band with probability 2^-r (r = n_planes/n_bands), so the
    candidate fraction floors at 1-(1-2^-r)^n_bands no matter how big
    the corpus is — ~23% at the r=4 default (tuned for recall on the
    small unclustered fixtures), ~1.6% at r=8, ~0.006% at r=16. Widen
    the bands as the corpus grows (tests/test_scale_smoke.py measures
    the r=8 config pruning a 20k-vector corpus).

    ZERO-shuffle since round-4: with the planes packed into a single
    broadcast row, each vector's band signatures fold entirely map-side
    (sign bit × 2^r summed inside a row-local aggregate, then one
    explode to band grain). The round-3 shape pushed corpus × 16 rows
    through a groupBy(vec_id, band_idx) exchange — a corpus-cardinality
    shuffle that at 100 TB dwarfed the hash computation itself."""
    spark = df.sparkSession
    if n_planes % n_bands or n_planes // n_bands > len(_POW2):
        raise ValueError(f"bad banding {n_planes}/{n_bands}")
    pow2 = F.array(*[F.lit(v).cast("long") for v in _POW2])
    vec = F.col("vec")
    sig = F.transform(
        F.col("bands"),
        lambda b: F.struct(
            b.getField("band_idx").alias("band_idx"),
            F.aggregate(
                F.transform(
                    b.getField("planes"),
                    lambda p, r: F.when(
                        dot(vec, p) > 0, F.element_at(pow2, r + 1)
                    ).otherwise(F.lit(0).cast("long")),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("band_bits"),
        ),
    )
    return (
        df.select("vec_id", "vec")
        .crossJoin(F.broadcast(_planes_df(spark, n_planes, n_bands)))
        .select("vec_id", F.explode(sig).alias("s"))
        .select(
            "vec_id",
            F.col("s").getField("band_idx").alias("band_idx"),
            F.col("s").getField("band_bits").alias("band_bits"),
        )
    )


def ann_lsh_topk(vectors: DataFrame, queries: DataFrame, k: int, *,
                 queries_subset_of_vectors: bool = False) -> DataFrame:
    """Approximate top-k: candidates share any LSH band with the query;
    exact cosine re-rank on the (deduplicated) candidates. Recall
    measured vs brute force in tests/test_llm.py.

    Shuffle hygiene: the band join + pair dedup carries only ids — the
    64-dim vectors attach *after* dedup (shuffling arrays through a
    distinct would dominate the plan at scale). When the query set is a
    subset of the corpus (the common self-search case), pass
    ``queries_subset_of_vectors=True``: query bands are then a
    broadcast-semi-filtered view of the corpus bands instead of a
    second full hash pass over the query vectors.

    Precondition: ``queries`` is hard-broadcast, so it must be bounded
    (the declared queries bound it at N_QUERY rows); an unbounded frame
    fails at the broadcast instead of falling back to a shuffle."""
    # corpus feeds the band pass + both rerank sides; persist once so
    # the unit-vec projection materializes instead of re-inlining into
    # every consumer (same rationale as ann_ivf_topk / semantic_dedup).
    # managed: released post-consumption via lineage.release_cuts;
    # managed_persist skips frames already cached, so memoized or
    # caller-persisted frames keep their own lifecycle
    vectors = managed_persist(vectors)
    bands = lsh_band_keys(vectors)
    if queries_subset_of_vectors:
        # in the self-search branch the band frame IS consumed twice
        # (corpus bands + the semi-filtered query bands); unpersisted,
        # the hyperplane fold over every corpus vector runs once per
        # consumer. It is ids + two ints per band — the cheapest frame
        # in the plan to keep. (In the two-corpora branch it has a
        # single consumer, so caching it would buy nothing.)
        bands = managed_persist(bands)
    vb = bands.select(
        F.col("vec_id").alias("cid"), "band_idx", "band_bits",
    )
    if queries_subset_of_vectors:
        qb = bands.join(
            F.broadcast(queries.select("vec_id")), "vec_id", "left_semi"
        ).select(F.col("vec_id").alias("qid"), "band_idx", "band_bits")
    else:
        qb = lsh_band_keys(queries).select(
            F.col("vec_id").alias("qid"), "band_idx", "band_bits",
        )
    # BROADCAST the query bands (r15, guide §3.1; the bounded-queries
    # precondition above): qb is |Q| x n_bands tiny rows, so a
    # broadcast-hash join removes BOTH band-key shuffles of the former
    # salted sort-merge join (plan: 2 Exchange + 2 Sort gone), and with
    # them the low-cardinality-band-key parallelism problem salting
    # existed to patch: the probe side's parallelism is the corpus
    # partitioning, the band key never becomes a partition key. The
    # distinct still collapses multi-band hits with full (qid, cid) key
    # parallelism.
    cand = (
        vb.join(F.broadcast(qb), ["band_idx", "band_bits"])
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid")
        .distinct()
    )
    return exact_rerank(cand, queries, vectors, k)


# ---------------------------------------------------------------------------
# Declared queries
# ---------------------------------------------------------------------------


@register(
    "q_cosine_topk",
    oracle=f"""
    WITH elems AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS e
        FROM embeddings
    ), norms AS (
        SELECT vec_id, sqrt(sum(e * e)) AS nrm FROM elems GROUP BY vec_id
    ), dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.e * b.e) AS dp
        FROM elems a
        JOIN elems b ON a.i = b.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id < {N_QUERY}
        GROUP BY 1, 2
    ), cos AS (
        SELECT qid, cid,
               round(dp / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots
        JOIN norms na ON na.vec_id = qid
        JOIN norms nb ON nb.vec_id = cid
    )
    SELECT qid, cid, cosine FROM (
        SELECT qid, cid, cosine,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cosine DESC, cid
               ) AS rn
        FROM cos
    ) WHERE rn <= {TOP_K}
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-LLM-4 exact rung: top-5 neighbors for the first 100 vectors."""
    emb = _corpus_unit_vecs(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY)
    return cosine_topk(emb, queries, TOP_K)


@register("q_ann_lsh_topk", oracle=None)  # WEAK: approximate by design
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-LLM-4 scale rung: bucketed ANN (recall-tested vs brute force)."""
    emb = _corpus_unit_vecs(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY)
    return ann_lsh_topk(emb, queries, TOP_K, queries_subset_of_vectors=True)


# --- IVF (inverted-file) ANN — the coarse-quantizer alternative to LSH ------

N_CELLS = 16
N_PROBE = 2
LLOYD_ITERS = 2
TRAIN_CAP = 4096  # quantizer training-sample bound; see ivf_centroids
# Cell-keyed SHUFFLE joins have only N_CELLS distinct shuffle keys;
# salting by a hash bucket of the corpus-side id raises their
# parallelism ceiling to N_CELLS x PAIR_SALTS. Since r15 only the
# corpus-vs-corpus pair scan (semantic_dedup) shuffles on the cell key
# — the query-vs-corpus candidate joins broadcast the bounded query
# side instead (ivf_candidates / ann_lsh_topk), which removes the
# shuffle and the ceiling together.
PAIR_SALTS = 8


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cell_scores(cents: Column, vec: Column) -> Column:
    """array<struct<d2, cell>> — one entry per centroid, computed
    entirely map-side from the packed model (no join key, no shuffle).
    Struct comparison is lexicographic (d2 then cell), so array_min /
    array_sort over this keeps the deterministic tiebreak the round-3
    min-struct aggregate used."""
    return F.transform(
        cents,
        lambda c: F.struct(
            _l2sq(vec, c.getField("cvec")).alias("d2"),
            c.getField("cell").alias("cell"),
        ),
    )


def train_sample(vectors: DataFrame, cap: int) -> DataFrame:
    """The ``cap``-bounded deterministic training sample (xxhash64(vec_id)
    order, vec_id tiebreak — the trade FAISS makes when training a
    quantizer: index build cost stays constant as the corpus grows)
    packed into ONE row: ``sample`` = array<struct<h, vec_id, vec>>.

    The global aggregate is load-bearing: it yields exactly one row,
    even on empty input, so a trainer mapped over it runs exactly once
    whatever the partition layout or checkpoint mode."""
    return (
        vectors.select(F.xxhash64("vec_id").alias("h"), "vec_id", "vec")
        .orderBy("h", "vec_id")
        .limit(cap)
        .groupBy()
        .agg(F.collect_list(F.struct("h", "vec_id", "vec")).alias("sample"))
    )


def _unpack(sample, n_seeds: int) -> tuple[np.ndarray, np.ndarray]:
    """(X, seeds) of one packed sample: X's rows in (h, vec_id) order,
    re-established here so the float sums never depend on the order
    collect_list met the rows; seeds = the ``n_seeds`` lowest-vec_id
    rows (no rand(): retries and re-plans reproduce the same model)."""
    h = np.array([e["h"] for e in sample], dtype=np.int64)
    ids = np.array([e["vec_id"] for e in sample], dtype=np.int64)
    order = np.lexsort((ids, h))
    X = (np.vstack([sample[i]["vec"] for i in order]) if len(order)
         else np.empty((0, 0)))
    return X, X[np.argsort(ids[order], kind="stable")[:n_seeds]]


def lloyd(X: np.ndarray, C: np.ndarray,
          iters: int) -> tuple[np.ndarray, np.ndarray]:
    """``iters`` Lloyd passes over the rows of X from the seed rows C;
    returns (ids, C): the seed indices of the surviving cells and their
    centroids, empty cells dropped. The arithmetic order is fixed so the
    model is reproducible bit for bit and agrees with the SQL routing
    expression (_l2sq): d2 adds (x - c)^2 dimension by dimension from
    0.0 (np.sum / einsum / matmul would reassociate the sum), argmin
    takes the lowest cell on ties, and a mean adds its members in
    sample order before dividing by their count."""
    ids = np.arange(len(C))
    for _ in range(iters if len(C) else 0):
        d2 = np.zeros((len(X), len(C)))
        for j in range(X.shape[1]):
            diff = X[:, j, None] - C[None, :, j]
            d2 += diff * diff
        cell = d2.argmin(axis=1)
        n = np.bincount(cell, minlength=len(C))
        s = np.zeros_like(C)
        np.add.at(s, cell, X)
        keep = n > 0
        ids, C = ids[keep], s[keep] / n[keep, None]
    return ids, C


_CENTS_SCHEMA = "cents array<struct<cell:int, cvec:array<double>>>"


def _ivf_train(batches, n_cells: int, iters: int):
    """mapInPandas body over train_sample's single row. Module-level
    with its constants bound on the driver (functools.partial): workers
    import a fresh module, so a monkeypatched global would not reach
    them."""
    for pdf in batches:
        for sample in pdf["sample"]:
            X, seeds = _unpack(sample, n_cells)
            cells, C = lloyd(X, seeds, iters)
            yield pd.DataFrame({"cents": [[
                {"cell": int(c) + 1, "cvec": v} for c, v in zip(cells, C)
            ]]})


def ivf_centroids(vectors: DataFrame,
                  train_cap: int = TRAIN_CAP) -> DataFrame:
    """Deterministic k-means coarse quantizer, returning the model
    PACKED into ONE row: cents = array<struct<cell:int,
    cvec:array<double>>>, cells 1..N_CELLS (those that kept members).

    Training is bounded: LLOYD_ITERS numpy Lloyd passes (``lloyd``) in
    one Python task over the ``train_cap``-row sample (train_sample),
    seeded with its N_CELLS lowest-vec_id vectors. When the corpus fits
    under the cap — every test fixture does — the sample IS the corpus.
    Inference stays SQL: with the model as a single array row,
    nearest-cell routing (ivf_assign) is an array_min over a row-local
    expression, so the corpus never shuffles.

    The cut means consumers never replay the training lineage; a
    reliable cut's persist drains via lineage.release_cuts() (lineage.py
    contract)."""
    model = train_sample(vectors, train_cap).mapInPandas(
        partial(_ivf_train, n_cells=N_CELLS, iters=LLOYD_ITERS),
        _CENTS_SCHEMA,
    )
    return cut_lineage(model)


def ivf_assign(vectors: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """(vec_id, cell) for the nprobe nearest cells — the IVF routing
    step, now a PURE PROJECTION: the packed 1-row model broadcasts into
    a cross join (the big side never moves) and the nearest cell(s)
    fall out of array_min / array_sort + slice on a row-local score
    array. Zero shuffles for both the corpus-indexing pass (nprobe=1)
    and the query pass (nprobe>1); the round-3 shape pushed the whole
    corpus through a groupBy(vec_id) exchange — at 100 TB that shuffle
    WAS the routing cost."""
    scored = (
        vectors.select("vec_id", "vec")
        .crossJoin(F.broadcast(cent))
        .withColumn("scores", _cell_scores(F.col("cents"), F.col("vec")))
    )
    if nprobe == 1:
        return scored.select(
            "vec_id", F.array_min("scores").getField("cell").alias("cell")
        )
    return (
        scored.select(
            "vec_id",
            F.explode(F.slice(F.array_sort("scores"), 1, nprobe)).alias("sc"),
        )
        .select("vec_id", F.col("sc").getField("cell").alias("cell"))
    )


def ivf_corpus_cells(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """Corpus routing in the candidate-join convention: ``(cid, cell)``,
    one row per corpus vector (nprobe=1), as ann_ivf_topk routes it."""
    return ivf_assign(vectors, cent, 1).select(
        F.col("vec_id").alias("cid"), "cell"
    )


def ivf_query_cells(vectors: DataFrame, cent: DataFrame,
                    nprobe: int | None = None) -> DataFrame:
    """Query routing in the candidate-join convention: ``(qid, cell)``,
    nprobe rows per query. Shared by ann_ivf_topk and pq.ivfpq_topk.
    N_PROBE is read at call time (late-bound, the
    PAIR_SALTS convention) so a monkeypatched module global still
    reaches callers that omit nprobe."""
    if nprobe is None:
        nprobe = N_PROBE
    return ivf_assign(vectors, cent, nprobe).select(
        F.col("vec_id").alias("qid"), "cell"
    )


def ivf_candidates(corpus_cells: DataFrame, query_cells: DataFrame,
                   *, carry: tuple[str, ...] = ()) -> DataFrame:
    """The shared IVF candidate stage: salted cell join + self-pair drop.

    ``corpus_cells`` must expose (cid, cell, *carry) — plain routing for
    the float rung, the PQ codes column for ivfpq_topk (``carry=
    ("codes",)`` ships the 8-byte codes through the join so ADC never
    touches a corpus vector). ``query_cells`` is ivf_query_cells output.

    No distinct here (unlike the LSH rung): each corpus vector lives in
    exactly ONE cell (nprobe=1 routing) and a query's probed cells are
    distinct by construction (slice of a per-cell score sort), so a
    (qid, cid) pair can only arise once — a dedup would be a pure
    candidate-cardinality shuffle bought for nothing.

    BROADCAST query routing (r15, guide §3.1). Precondition: the
    queries ``query_cells`` routes are hard-broadcast, so they must be
    bounded (the declared queries bound them at N_QUERY rows); an
    unbounded frame fails at the broadcast instead of falling back to a
    shuffle. ``query_cells`` is |Q| x nprobe tiny rows: a broadcast-hash
    join makes candidate generation a PURE MAP over the corpus index —
    zero shuffles at any corpus size — and dissolves the
    low-cardinality-cell-key problem the former PAIR_SALTS salting
    patched: the probe side's parallelism is the corpus partitioning,
    the cell id never becomes a partition key. (semantic_dedup's
    corpus-vs-corpus pair scan keeps its salted join — there BOTH sides
    are unbounded.)"""
    return (
        corpus_cells.join(F.broadcast(query_cells), "cell")
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid", *carry)
    )


def ann_ivf_topk(vectors: DataFrame, queries: DataFrame, k: int,
                 cent: DataFrame | None = None) -> DataFrame:
    """IVF ANN: corpus partitioned into N_CELLS coarse cells (1 cell per
    vector); each query probes its N_PROBE nearest cells and exact-
    reranks only those cells' members. Same shuffle hygiene as the LSH
    rung: the cell join carries ids, vectors re-attach for the rerank.
    At scale the cell id becomes the corpus PARTITION key, so a probe
    touches nprobe/ncells of the data instead of all of it — and since
    round-4 the routing itself is a zero-shuffle projection (packed
    model), so indexing the corpus never exchanges it.

    ``cent``: a prebuilt (checkpointed) quantizer model to reuse — the
    index-amortization path; omitted, the model trains in-line.

    Precondition: ``queries`` is hard-broadcast, so it must be bounded
    (the declared queries bound it at N_QUERY rows); an unbounded frame
    fails at the broadcast instead of falling back to a shuffle."""
    # The corpus feeds three consumers (the training sample, corpus
    # routing, rerank); without a persist each one re-runs the scan +
    # unit-vec projection (VERDICT.md round-2 item 7 — q_ann_ivf_topk
    # was 2x the next-slowest query on recompute alone).
    # persist() (MEMORY_AND_DISK) rather than localCheckpoint: evictable,
    # spillable, and the cached fragment substitutes into the queries
    # frame too (it is a filter over the same corpus plan). Managed:
    # released post-consumption via lineage.release_cuts; the memoized
    # corpus keeps its own session lifecycle (managed_persist skips
    # frames already cached).
    vectors = managed_persist(vectors)
    if cent is None:
        cent = ivf_centroids(vectors)
    cand = ivf_candidates(ivf_corpus_cells(vectors, cent),
                          ivf_query_cells(queries, cent))
    return exact_rerank(cand, queries, vectors, k)


# Session-scoped IVF index memo: (applicationId, sf_dir) -> checkpointed
# 1-row model. The quantizer is deterministic (seedless k-means over a
# hash-bounded sample), so rebuilding it per query recomputes the exact
# same 16x64 doubles — a real vector store builds the IVF index ONCE and
# amortizes it over every query. q_ann_ivf_topk and q_semantic_dedup are
# two consumers of the same corpus index; the memo makes that sharing
# explicit. Keyed by applicationId so a new session (new fixture state)
# never sees a stale model; the value is a localCheckpointed bounded
# frame (16 cells x 64 dims), so the memory held is a few KB per corpus.
_IVF_INDEX_MEMO: dict[tuple[str, str], DataFrame] = {}

# Session-scoped normalized-corpus memo (VERDICT r3 #6): the cast-to-
# double + L2-norm projection of the embeddings table is the shared
# input of EVERY similarity-family query (cosine/LSH/IVF/SemDeDup/
# near-dup) — a vector store materializes its normalized corpus once,
# not per search. One persisted frame per (applicationId, sf_dir);
# MEMORY_AND_DISK (the persist default), so it is evictable and
# spillable rather than pinned. Library functions (ann_*_topk,
# semantic_dedup) still take plain DataFrames and persist defensively —
# re-persisting an already-cached frame is a no-op — so callers outside
# the declared queries are unaffected.
_CORPUS_MEMO: dict[tuple[str, str], DataFrame] = {}


def _corpus_unit_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ensure_persisted self-heals the ordering hazard: if a library
    # caller managed_persist'ed a plan-equal frame FIRST, this memo's
    # .persist() was a cache-manager no-op sharing that entry, and a
    # later release_cuts() drained it — re-pin on access so the memo's
    # session lifecycle survives external releases.
    return ensure_persisted(session_memo(
        _CORPUS_MEMO, spark, sf_dir,
        lambda: with_unit_vec(table(spark, sf_dir, "embeddings")).persist(),
    ))


def _corpus_ivf_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(
        _IVF_INDEX_MEMO, spark, sf_dir,
        lambda: ivf_centroids(_corpus_unit_vecs(spark, sf_dir)),
    )


@register("q_ann_ivf_topk", oracle=None)  # WEAK: approximate by design
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-LLM-4 second scale rung: IVF coarse-quantizer ANN (deterministic
    k-means cells, nprobe=2), recall-tested vs brute force alongside the
    sign-LSH rung. Reuses the session's amortized corpus index."""
    emb = _corpus_unit_vecs(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY)
    return ann_ivf_topk(emb, queries, TOP_K,
                        cent=_corpus_ivf_model(spark, sf_dir))


@register(
    "q_embed_neardup",
    oracle="""
    WITH elems AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS e
        FROM embeddings WHERE vec_id < 300
    ), norms AS (
        SELECT vec_id, sqrt(sum(e * e)) AS nrm FROM elems GROUP BY vec_id
    ), dots AS (
        SELECT a.vec_id AS d1, b.vec_id AS d2, sum(a.e * b.e) AS dp
        FROM elems a JOIN elems b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, round(dp / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = d1
    JOIN norms nb ON nb.vec_id = d2
    WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.35
    """,
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection (the dedup-by-similarity
    rung, distinct from top-k search): unordered pairs above a cosine
    threshold. Exact on a bounded candidate set; the LSH band machinery
    (ann_lsh_topk) is the uncapped path."""
    emb = _corpus_unit_vecs(spark, sf_dir).filter(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("d1"), F.col("vec").alias("v1"),
                   F.col("nrm").alias("n1"))
    b = emb.select(F.col("vec_id").alias("d2"), F.col("vec").alias("v2"),
                   F.col("nrm").alias("n2"))
    pairs = a.crossJoin(b).filter(F.col("d1") < F.col("d2"))
    cos = F.round(dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6)
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.35)
        .select("d1", "d2", "cosine")
    )


@register(
    "q_embed_join",
    oracle="""
    SELECT e.vec_id, e.label, d.lang, d.source
    FROM embeddings e
    JOIN documents d ON d.doc_id = e.vec_id
    WHERE e.label < 5
    """,
)
def q_embed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-LLM-8: multimodal pass-through — the embedding array survives
    the join/filter untouched; only scalars are projected for hashing
    (never hash raw float arrays, FIXTURES.md)."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("label") < 5)
    docs = table(spark, sf_dir, "documents")
    return (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .select("vec_id", "label", "lang", "source")
    )


SEMDEDUP_TAU = 0.35  # matches q_embed_neardup's near-dup threshold


def semantic_dedup(vectors: DataFrame, tau: float,
                   cent: DataFrame | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): route every vector to its coarse k-means cell,
    compare pairs ONLY within a cell, and drop any doc that has a
    smaller-id neighbor above the cosine threshold — the deterministic
    "keep lowest id" survivor rule. The cell routing is what makes
    this a 100 TB design: the all-pairs cosine never happens; the
    quadratic term is bounded per cell, the pair join shuffles on the
    cell key, and the corpus-side cell assignment is a zero-shuffle
    projection against the packed 1-row model (ivf_assign nprobe=1).
    Trade-off vs exact near-dup
    (q_embed_neardup): a cross-cell near-duplicate pair is missed —
    that recall loss is measured, not hidden, in
    tests/test_llm.py::TestSemanticDedup."""
    # the corpus feeds the training sample, cell routing and both sides
    # of the pair scan — persist once (same rationale as
    # ann_ivf_topk, VERDICT r2 #7: without it every consumer re-runs
    # the scan + unit-vec projection); managed, see ann_lsh_topk
    vectors = managed_persist(vectors)
    if cent is None:
        cent = ivf_centroids(vectors)
    cells = ivf_assign(vectors.select("vec_id", "vec"), cent, nprobe=1)
    v = vectors.select("vec_id", "vec", "nrm").join(cells, "vec_id")
    # SALTED pair scan: joining on the bare cell id gives the shuffle
    # only N_CELLS distinct keys, so the quadratic within-cell cosine
    # work lands on at most N_CELLS tasks and the largest cell becomes
    # the straggler — a parallelism ceiling a 1000-executor cluster
    # would hit immediately. salted_join splits each cell's pairs by a
    # deterministic hash bucket of d2: the d1 side replicates
    # PAIR_SALTS x (ids + vectors — bounded fan-out), the d2 side
    # computes its single bucket, and each unordered pair still meets
    # exactly once (the bucket is a function of d2 alone; d1 < d2
    # dedups orientation).
    a = v.select("cell", F.col("vec_id").alias("d1"),
                 F.col("vec").alias("v1"), F.col("nrm").alias("n1"))
    b = v.select("cell", F.col("vec_id").alias("d2"),
                 F.col("vec").alias("v2"), F.col("nrm").alias("n2"))
    sim = (
        salted_join(b, a, "cell", salt=PAIR_SALTS, salt_on=["d2"])
        .filter(F.col("d1") < F.col("d2"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("v1"), F.col("v2"))
                / (F.col("n1") * F.col("n2")), 6),
        )
        .filter(F.col("cosine") >= tau)
    )
    drops = (
        sim.groupBy("d2")
        .agg(F.min("d1").alias("dup_of"))
        .withColumnRenamed("d2", "vec_id")
    )
    return (
        v.select("vec_id", "cell")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


@register("q_semantic_dedup", oracle=None)  # WEAK: k-means cells (iterative
# model) aren't reasonably SQL-expressible; survivor-rule soundness is
# brute-force-verified in tests/test_llm.py::TestSemanticDedup
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide semantic dedup verdict: (vec_id, cell, kept,
    dup_of) for every embedding — the corpus-prep step that removes
    semantically redundant documents before training-data assembly.
    Reuses the session's amortized corpus index (same model as
    q_ann_ivf_topk — both are consumers of one IVF index build)."""
    emb = _corpus_unit_vecs(spark, sf_dir)
    return semantic_dedup(emb, SEMDEDUP_TAU,
                          cent=_corpus_ivf_model(spark, sf_dir))
