"""Product quantization (PQ): embedding compression + IVF-PQ search.

The MEMORY rung of the ANN ladder (Jégou/Douze/Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — the
architecture FAISS ships as IVFPQ). The exact/LSH/IVF rungs in
llm/similarity.py prune WHICH vectors a query touches; this rung
shrinks WHAT a candidate costs: each DIM-dim vector splits into M
contiguous subspaces of DSUB dims, each subspace trains its own
KS-codeword k-means codebook, and a vector is stored as M small codes
— 64 float32 (256 B) become 16 codes of 4 bits (8 B), a 32x
reduction. At 100 TB of embeddings that is the difference between an
index that fits the cluster's memory and one that doesn't, and — just
as important for the Spark plan — the candidate ranking join ships
8-byte code arrays instead of 256-byte vectors, so the widest shuffle
of the query path shrinks by the same factor; full vectors surface
only for the final refine*k-per-query shortlist (ivfpq_topk tier 3).

Scoring is ADC (asymmetric distance computation): the QUERY stays
exact; per query ONE M x KS table of exact sub-distances to every
codeword is computed (row-local, ~KS*DIM mults), after which any
corpus candidate scores in M table lookups — no corpus vector is ever
touched at query time. With unit-normalized inputs, approximate
L2^2 = 2 - 2*cos, so ADC ranking is monotone with approximate cosine
and directly comparable against the exact rung
(tests/test_pq.py pins the measured recall floor vs cosine_topk).

Spark shapes, same discipline as ivf_centroids (similarity.py):

- **Training** is PQ_LLOYD numpy Lloyd passes per subspace
  (similarity.lloyd) in ONE Python task over the deterministic
  PQ_TRAIN_CAP-bounded sample (similarity.train_sample) — k-means is
  the step SQL cannot say, and its input is bounded by construction.
  The build's only shuffles are the sample TakeOrdered and the 1-row
  pack.
- **The model is one packed row** (M*KS*DSUB = 1024 doubles, a few KB)
  that broadcasts; encoding is a PURE PROJECTION (crossJoin +
  higher-order argmin per subspace), zero shuffles at any corpus size.
- **Search** reuses the IVF coarse cells for pruning (ivf_assign) and
  re-ranks candidates from codes alone via a per-query lookup MAP
  (map_from_entries; M map probes per candidate, whole-stage codegen,
  no UDF anywhere).

Declared-surface status: `q_ivfpq_topk` is declared (r06, WEAK:
k-means is not SQL-expressible; the exact rung + recall floor in
tests/test_pq.py are the oracle, as for the LSH/IVF rungs) with a
same-round driver-window slot per the declare-with-evidence rule.
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_spark.lineage import cut_lineage, managed_persist
from etl_finance_spark.llm.similarity import (
    DIM, _unpack, lloyd, train_sample,
)
from etl_finance_spark.registry import register

M = 16            # subspaces
DSUB = DIM // M   # dims per subspace
KS = 16           # codewords per subspace (4-bit codes; 8 B/vector)
PQ_LLOYD = 2      # per-subspace Lloyd passes (same A/B'd constant as IVF)
PQ_TRAIN_CAP = 4096  # training-sample bound, as ivf_centroids
REFINE = 4        # exact-rerank shortlist = REFINE * k per query


def with_normalized(df: DataFrame) -> DataFrame:
    """Replace ``vec`` with the unit vector vec / nrm (inputs from
    similarity.with_unit_vec, which attaches ``nrm``). On the unit
    sphere L2^2 = 2 - 2*cos, which is what makes ADC's L2 ranking a
    cosine ranking. Zero- and NULL-norm vectors are DROPPED, not
    NULL-padded: they have no direction, and a NULL vector component
    would poison every argmin downstream — Spark's struct ordering
    sorts NULL fields FIRST, so array_min over (distance, code)
    structs elects the NULL-distance entry, silently collapsing a
    codebook (or ranking a directionless vector) instead of erroring."""
    return df.filter(F.col("nrm") > 0).withColumn(
        "vec", F.transform("vec", lambda x: x / F.col("nrm"))
    )


def _sub_l2sq(w: Column, vec: Column, j: Column) -> Column:
    """L2^2 between codeword ``w`` and ``vec``'s j-th DSUB slice as a
    FLAT expression: sum_k (w[k] - vec[j*DSUB+k])^2 with no slice, no
    zip_with array, no fold lambda. Bit-identical to the fold
    similarity._l2sq over the slice, and to the training distance in
    similarity.lloyd: the squared terms accumulate left-to-right in
    position order, and IEEE ``0.0 + d == d`` for the non-negative
    squares, so dropping the fold's 0.0 seed changes nothing. DSUB is a small constant (4), so the expression stays far
    from the JIT huge-method trap the 64-term unrolled dot hit (r14
    change 8 — that stays reverted); here the win is removing two
    array allocations + lambda dispatch per (vector, codeword) from
    the hottest interpreted loop in the PQ family (corpus encode, ADC
    table build)."""
    base = j * DSUB
    d0 = F.get(w, 0) - F.get(vec, base)
    acc = d0 * d0
    for k in range(1, DSUB):
        dk = F.get(w, k) - F.get(vec, base + k)
        acc = acc + dk * dk
    return acc


_PQW_SCHEMA = "pqw array<struct<j:int, code:int, w:array<double>>>"


def _pq_train(batches, m: int, dsub: int, ks: int, iters: int):
    """mapInPandas body over train_sample's single row: subspace j's
    codebook is ``lloyd`` over the sample's j-th DSUB slices, seeded
    with the same slice of the KS lowest-vec_id vectors. Constants are
    bound on the driver (functools.partial), as in
    similarity._ivf_train."""
    for pdf in batches:
        for sample in pdf["sample"]:
            X, seeds = _unpack(sample, ks)
            pqw = []
            for j in range(m):
                sub = slice(j * dsub, (j + 1) * dsub)
                codes, W = lloyd(X[:, sub], seeds[:, sub], iters)
                pqw += [{"j": j, "code": int(c), "w": w}
                        for c, w in zip(codes, W)]
            yield pd.DataFrame({"pqw": [pqw]})


def pq_train(vectors: DataFrame, train_cap: int = PQ_TRAIN_CAP) -> DataFrame:
    """Train the M per-subspace codebooks; returns the packed 1-row
    model (column ``pqw``, entries in (j, code) order; codewords that
    lost all members drop out). ``vectors`` needs (vec_id, vec) with vec
    already double[] (with_unit_vec upstream).

    Deterministic end to end: the hash-ordered training sample, the
    lowest-vec_id seeding and the lowest-code argmin tie-break are all
    partition-invariant — the same corpus yields the same model on any
    cluster layout (pinned in tests/test_pq.py). The cut is
    ivf_centroids': consumers never replay training."""
    model = train_sample(vectors, train_cap).mapInPandas(
        partial(_pq_train, m=M, dsub=DSUB, ks=KS, iters=PQ_LLOYD),
        _PQW_SCHEMA,
    )
    return cut_lineage(model)


def _books_grouped(pqw: Column) -> Column:
    """``pqw`` regrouped by subspace: array (index j) of that
    subspace's struct(j, code, w) entries, (j, code) order preserved.
    Computed ONCE, on the 1-row model frame before a broadcast, so the
    per-vector encode below replaces a per-(vector, j) filter scan of
    all M*KS entries with one element_at (that scan was the hot loop of
    corpus encode — M*KS lambda evals per vector per subspace, ~16x the
    arithmetic the argmin itself needs)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(M - 1)),
        lambda j: F.filter(pqw, lambda x: x.getField("j") == j),
    )


def _codes_from_grouped(vec: Column, pqw_g: Column) -> Column:
    """array<int> of per-subspace nearest-codeword codes for ``vec``
    against a ``_books_grouped`` codebook column (lexicographic
    (dist, code) argmin — the deterministic tie-break training uses)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(M - 1)),
        lambda j: F.array_min(
            F.transform(
                F.element_at(pqw_g, j + 1),
                lambda x: F.struct(
                    _sub_l2sq(x.getField("w"), vec, j).alias("d"),
                    x.getField("code").alias("code"),
                ),
            )
        ).getField("code"),
    )


def pq_encode(vectors: DataFrame, books: DataFrame) -> DataFrame:
    """(vec_id, codes: array<int>) — each vector's per-subspace nearest
    codeword. A pure projection against the broadcast 1-row model:
    ZERO shuffles at any corpus size (plan-asserted in tests/test_pq.py).
    This is the stored index at rest; 100 TB of embeddings encode in
    one map-only pass."""
    return (
        vectors.select("vec_id", "vec")
        .crossJoin(F.broadcast(
            books.select(_books_grouped(F.col("pqw")).alias("pqw_g"))
        ))
        .select(
            "vec_id",
            _codes_from_grouped(F.col("vec"), F.col("pqw_g")).alias("codes"),
        )
    )


def adc_lut(queries: DataFrame, books: DataFrame) -> DataFrame:
    """Per query, the ADC lookup MAP: key (j * KS + code) -> exact
    L2^2 between the query's j-th slice and that codeword. One row per
    query, M*KS entries — computed once, probed M times per candidate.
    A map (not a positional array) because codewords that lost all
    training members drop out of the model, so (j, code) is sparse."""
    return (
        queries.select(F.col("vec_id").alias("qid"), F.col("vec").alias("qv"))
        .crossJoin(F.broadcast(books))
        .select(
            "qid",
            F.map_from_entries(
                F.transform(
                    "pqw",
                    lambda x: F.struct(
                        (x.getField("j") * KS + x.getField("code")).alias("k"),
                        _sub_l2sq(x.getField("w"), F.col("qv"),
                                  x.getField("j")).alias("d"),
                    ),
                )
            ).alias("lut"),
        )
    )


def adc_score(codes: Column, lut: Column) -> Column:
    """Approximate L2^2 of a coded corpus vector to the lut's query:
    sum over subspaces of the looked-up sub-distance. M map probes,
    whole-stage codegen. Every probe hits: encode only ever assigns
    codes present in the model."""
    return F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(M - 1)), codes,
            lambda j, c: F.element_at(lut, j * KS + c),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def ivfpq_index(vectors: DataFrame, cent: DataFrame,
                books: DataFrame) -> DataFrame:
    """The stored IVF-PQ index: (cid, cell, codes) — coarse cell AND
    PQ codes computed in ONE projection against both broadcast 1-row
    models. The two columns are never separated, so re-pairing them
    through an ivf_assign ⋈ pq_encode equi-join would buy two
    full-corpus hash exchanges for nothing: building the index stays a
    single map-only scan at any corpus size (plan-asserted in
    tests/test_pq.py). At rest this is what a vector store persists —
    8 B of codes + 1 B of cell per vector."""
    from etl_finance_spark.llm.similarity import _cell_scores

    return (
        vectors.select("vec_id", "vec")
        .crossJoin(F.broadcast(cent))
        .crossJoin(F.broadcast(
            books.select(_books_grouped(F.col("pqw")).alias("pqw_g"))
        ))
        .select(
            F.col("vec_id").alias("cid"),
            F.array_min(
                _cell_scores(F.col("cents"), F.col("vec"))
            ).getField("cell").alias("cell"),
            _codes_from_grouped(F.col("vec"), F.col("pqw_g")).alias("codes"),
        )
    )


def ivfpq_topk(vectors: DataFrame, queries: DataFrame, k: int,
               cent: DataFrame | None = None,
               books: DataFrame | None = None,
               refine: int = REFINE) -> DataFrame:
    """IVF-PQ approximate top-k with an exact refinement stage — the
    FAISS IVFPQ+refine architecture, in three strictly narrowing tiers:

    1. **IVF cells** prune WHICH corpus vectors a query meets
       (similarity.ivf_assign — the existing rung): candidates fall to
       ~nprobe/ncells of the corpus.
    2. **ADC over PQ codes** ranks every candidate WITHOUT touching a
       corpus vector: the candidate join ships (cell, codes) — at
       100 TB that shuffle is ~32x narrower than the float-vector
       re-rank of ann_ivf_topk — and keeps the ``refine * k`` best
       per query.
    3. **Exact cosine** re-ranks only that shortlist: full vectors are
       fetched for refine*k rows PER QUERY (a narrow semi-join against
       the corpus), never for the candidate set.

    The corpus is scanned ONCE to index (ivfpq_index — cell and codes
    in the same map-only projection against both broadcast models) and
    once per shortlist fetch. Inputs must be UNIT
    vectors (with_normalized), so ADC's L2^2 = 2 - 2*cos makes tier-2
    ranking a cosine ranking and tier 3 commensurable with the exact
    rung; the measured recall floor vs cosine_topk is pinned in
    tests/test_pq.py. ``refine=1`` degrades to codes-only ranking
    (returns ADC's approximate cosine — zero vector traffic, lower
    recall; the trade is the caller's).

    ``cent`` / ``books``: prebuilt (checkpointed) models to reuse —
    the index-amortization path, as ann_ivf_topk's cent.

    Id-space convention: queries are assumed to SHARE the corpus id
    space (the self-search case — same convention as ann_ivf_topk), so
    the candidate pass drops ``cid == qid`` self-pairs unconditionally.
    A disjoint query set whose vec_ids collide with corpus ids would
    lose that one legitimate neighbor per collision; re-key such a
    query set (e.g. negate or offset vec_id) before calling, exactly
    as for ann_ivf_topk.

    Precondition: ``queries`` is hard-broadcast, so it must be bounded
    (the declared queries bound it at N_QUERY rows); an unbounded frame
    fails at the broadcast instead of falling back to a shuffle."""
    from etl_finance_spark.llm.similarity import (
        dot, ivf_candidates, ivf_centroids, ivf_query_cells,
    )

    if refine < 1:
        raise ValueError(f"refine must be >= 1, got {refine}")
    # feeds training, routing, encoding; released post-consumption by
    # the run harnesses (lineage.release_cuts) rather than pinned for
    # the session
    vectors = managed_persist(vectors)
    if cent is None:
        cent = ivf_centroids(vectors)
    if books is None:
        books = pq_train(vectors)
    corpus = ivfpq_index(vectors, cent, books)
    luts = adc_lut(queries, books)
    # shared candidate stage (similarity.ivf_candidates): salted cell
    # join, self-pair drop; carry=codes ships the 8-byte PQ codes — the
    # ~32x-narrower-than-float shuffle that is this rung's point
    cand = ivf_candidates(corpus, ivf_query_cells(queries, cent),
                          carry=("codes",))
    # rank by the 6dp-ROUNDED score with the unique cid tiebreak (the
    # repo-wide ranking discipline every sibling rung follows)
    scored = cand.join(luts, "qid").select(
        "qid", "cid",
        F.round(
            1 - adc_score(F.col("codes"), F.col("lut")) / 2, 6
        ).alias("approx_cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("approx_cos"), F.asc("cid"))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= refine * k)
    )
    if refine == 1:
        return shortlist.select("qid", "cid", "approx_cos", "rank")
    # tier 3: exact cosine on the shortlist only — unit vectors, so
    # cosine IS the dot product; vector traffic = refine*k per query.
    # The ~N_QUERY-row query side broadcasts EXPLICITLY: planner
    # side-selection flips with cache state, and the wrong pick streams
    # the query side over 1-2 partitions (similarity.py's rationale).
    qv = queries.select(F.col("vec_id").alias("qid"), F.col("vec").alias("qv"))
    cv = vectors.select(F.col("vec_id").alias("cid"), F.col("vec").alias("cv"))
    exact = (
        shortlist.select("qid", "cid")
        .join(F.broadcast(qv), "qid").join(cv, "cid")
        .select(
            "qid", "cid",
            F.round(dot(F.col("qv"), F.col("cv")), 6).alias("approx_cos"),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "approx_cos", "rank")
    )


# Session-scoped PQ codebook memo, mirroring similarity._IVF_INDEX_MEMO:
# a vector store trains its codebooks ONCE per corpus and serves every
# search; the value is a 1-row packed frame (a few KB), keyed by
# (applicationId, sf_dir) so no session ever sees stale books.
_PQ_BOOKS_MEMO: dict[tuple[str, str], DataFrame] = {}


def _corpus_pq_books(spark: "SparkSession", sf_dir: str) -> DataFrame:
    from etl_finance_spark.llm.similarity import _corpus_unit_vecs
    from etl_finance_spark.memo import session_memo

    return session_memo(
        _PQ_BOOKS_MEMO, spark, sf_dir,
        lambda: pq_train(with_normalized(_corpus_unit_vecs(spark, sf_dir))),
    )


@register("q_ivfpq_topk", oracle=None)  # WEAK: approximate by design
def q_ivfpq_topk(spark: "SparkSession", sf_dir: str) -> DataFrame:
    """X-LLM-4 third scale rung: IVF-PQ ANN — the compression tier of
    the ladder (exact → sign-LSH → IVF → IVF-PQ). WEAK like its
    siblings: k-means training is not SQL-expressible; the correctness
    witnesses are tests/test_pq.py (recall floor vs the exact rung,
    ADC exactness on degenerate codebooks, determinism, zero-shuffle
    encode plan). Normalizes the memoized session corpus (ADC needs
    unit vectors so L2^2 = 2 - 2*cos) and reuses the same
    query-set bound as the sibling rungs.

    Index amortization: the coarse quantizer is the SESSION's shared
    IVF model (similarity._corpus_ivf_model — the same index
    q_ann_ivf_topk and q_semantic_dedup route through; one corpus, one
    coarse index, N consumers), and the codebooks come from their own
    session memo. Routing stays consistent because corpus and queries
    are assigned with the SAME model whichever corpus trained it; on
    this fixture the share is exact — the embeddings are unit-norm at
    rest (measured max |nrm-1| < 2e-7), so the raw-corpus and
    normalized-corpus quantizers coincide, and the A/B measured
    identical recall (0.356 at sf0.1, N_QUERY=100) for ~4s less
    training per cold call."""
    from etl_finance_spark.llm.similarity import (
        N_QUERY, TOP_K, _corpus_ivf_model, _corpus_unit_vecs,
    )

    emb = with_normalized(_corpus_unit_vecs(spark, sf_dir))
    # Small-input parallelization, guarded to a no-op at scale: a
    # bench-sized corpus scans into ONE partition (15 MB <
    # maxPartitionBytes), serializing the encode/rerank projections
    # onto one core; hash-repartitioning it to the core count is a
    # ~15 MB shuffle that parallelizes them (A/B'd ~1.5s at sf0.1).
    # A real corpus already scans into >> cores partitions, so the
    # guard never fires there — an unconditional repartition WOULD
    # downsize a 100 TB scan, which is why the probe exists. Models
    # come from the session memos, so training never sees the widened
    # frame (widening training was measured slower). Results are
    # partition-invariant by construction (pinned in tests/test_pq.py).
    par = spark.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < par:
        emb = emb.repartition(par, "vec_id")
    queries = emb.filter(F.col("vec_id") < N_QUERY)
    return ivfpq_topk(emb, queries, TOP_K,
                      cent=_corpus_ivf_model(spark, sf_dir),
                      books=_corpus_pq_books(spark, sf_dir))
