"""Product quantization (llm/pq.py): model shape, determinism,
reconstruction quality, ADC exactness, IVF-PQ recall, and the
zero-shuffle encode plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE, explain_simple, model_digest

from etl_finance_spark.catalog import table
from etl_finance_spark.llm.pq import (
    DSUB, KS, M, adc_lut, adc_score, ivfpq_topk, pq_encode, pq_train,
    with_normalized,
)
from etl_finance_spark.llm.similarity import TOP_K, cosine_topk, with_unit_vec


def _emb(spark):
    return with_normalized(with_unit_vec(table(spark, SF_SMOKE, "embeddings")))


def test_pq_model_shape_and_order(spark):
    """One packed row; every codeword is DSUB wide; entries sorted by
    (j, code) with j in [0, M) and code in [0, KS); at most M*KS
    entries (codewords that lose all members may drop out)."""
    rows = pq_train(_emb(spark)).collect()
    assert len(rows) == 1
    pqw = rows[0]["pqw"]
    assert 0 < len(pqw) <= M * KS
    keys = [(e["j"], e["code"]) for e in pqw]
    assert keys == sorted(keys)
    assert all(0 <= j < M and 0 <= c < KS for j, c in keys)
    assert all(len(e["w"]) == DSUB for e in pqw)
    # every subspace must keep at least one codeword on a real corpus
    assert {j for j, _ in keys} == set(range(M))


def test_pq_model_and_codes_partition_invariant(spark):
    """Training and encoding are deterministic and independent of the
    input's partition layout (content-hash sampling, lowest-id seeding,
    lexicographic argmin tie-breaks)."""
    emb = _emb(spark)
    m1 = pq_train(emb).collect()[0]["pqw"]
    m2 = pq_train(emb.repartition(7, "vec_id")).collect()[0]["pqw"]
    assert m1 == m2
    books = pq_train(emb)
    c1 = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    c2 = {r["vec_id"]: r["codes"]
          for r in pq_encode(emb.repartition(5), books).collect()}
    assert c1 == c2
    assert all(len(c) == M and all(0 <= x < KS for x in c)
               for c in c1.values())


def test_pq_reconstruction_beats_subspace_means(spark):
    """Quality witness: mean quantization error with KS codewords per
    subspace must beat the KS=1 baseline (one codeword = the subspace
    mean — the best constant predictor). Catches a training pass that
    degenerates to noise while staying robust to fixture changes."""
    import etl_finance_spark.llm.pq as P

    emb = _emb(spark).limit(512)
    books = pq_train(emb)

    def mse(model_df):
        lut = adc_lut(emb, model_df)  # d(q, codeword) table per vector
        codes = pq_encode(emb, model_df).select(
            F.col("vec_id").alias("qid"), "codes")
        # ADC distance of a vector to ITSELF's code = its quantization
        # error ||v - recon(v)||^2
        err = codes.join(lut, "qid").select(
            adc_score(F.col("codes"), F.col("lut")).alias("e"))
        return err.agg(F.avg("e")).collect()[0][0]

    e_full = mse(books)
    old_ks = P.KS
    P.KS = 1
    try:
        e_mean = mse(pq_train(emb))
    finally:
        P.KS = old_ks
    assert e_full >= 0.0
    assert e_full < 0.6 * e_mean, (e_full, e_mean)


def test_adc_matches_reconstruction_distance(spark):
    """ADC is EXACT for the quantized corpus: score(q, codes(v)) must
    equal ||q - recon(v)||^2 computed independently from the decoded
    codewords (driver-side, on a small slice)."""
    emb = _emb(spark)
    books = pq_train(emb)
    words = {(e["j"], e["code"]): list(e["w"])
             for e in books.collect()[0]["pqw"]}
    corpus = emb.filter(F.col("vec_id") < 30)
    queries = emb.filter(F.col("vec_id").between(30, 34))
    codes = {r["vec_id"]: r["codes"]
             for r in pq_encode(corpus, books).collect()}
    qvecs = {r["vec_id"]: list(r["vec"]) for r in queries.collect()}
    got = {
        (r["qid"], r["cid"]): r["d"]
        for r in pq_encode(corpus, books)
        .select(F.col("vec_id").alias("cid"), "codes")
        .crossJoin(adc_lut(queries, books))
        .select("qid", "cid", adc_score(F.col("codes"), F.col("lut")).alias("d"))
        .collect()
    }
    for (qid, cid), d in got.items():
        recon = [x for j in range(M) for x in words[(j, codes[cid][j])]]
        want = sum((a - b) ** 2 for a, b in zip(qvecs[qid], recon))
        assert abs(d - want) < 1e-9, (qid, cid, d, want)


def test_ivfpq_recall_vs_brute_force(spark):
    """End-to-end IVF-PQ+refine: recall@TOP_K against the exact cosine
    rung. Unclustered synthetic vectors are the worst case for every
    ANN rung; deterministic models make measured recall a fixture
    constant (0.484 on sf0.001 at the default refine=4 — at the IVF
    cell-pruning ceiling, i.e. the exact refinement recovers
    everything the 4-bit codes blurred), so the floor sits just below
    to catch algorithmic regressions. The codes-only mode (refine=1,
    zero vector traffic) is asserted at its own lower constant
    (0.272 measured)."""
    # the exact rung divides by the stored norms, so it gets the
    # UN-normalized frame (true cosine); IVF-PQ gets unit vectors
    base = with_unit_vec(table(spark, SF_SMOKE, "embeddings"))
    emb = with_normalized(base)
    queries = emb.filter(F.col("vec_id") < 50)
    brute = cosine_topk(base, base.filter(F.col("vec_id") < 50),
                        TOP_K).collect()
    ann = ivfpq_topk(emb, queries, TOP_K).collect()
    bset = {(r.qid, r.cid) for r in brute}
    aset = {(r.qid, r.cid) for r in ann}
    assert len(bset) == 50 * TOP_K
    assert len(aset) == 50 * TOP_K
    recall = len(aset & bset) / len(bset)
    assert recall >= 0.4, f"refined recall {recall:.3f}"
    # the refinement tier computes EXACT unit-vector cosine: true hits
    # must match the brute-force value inside its 6dp oracle rounding
    bcos = {(r.qid, r.cid): r.cosine for r in brute}
    for r in ann:
        if (r.qid, r.cid) in bcos:
            assert abs(r.approx_cos - bcos[(r.qid, r.cid)]) < 1e-6
    # codes-only mode: lower recall, but every score is a genuine
    # cosine approximation (within the quantization error band)
    only = ivfpq_topk(emb, queries, TOP_K, refine=1).collect()
    oset = {(r.qid, r.cid) for r in only}
    assert len(oset & bset) / len(bset) >= 0.2
    for r in only:
        if (r.qid, r.cid) in bcos:
            assert abs(r.approx_cos - bcos[(r.qid, r.cid)]) < 0.5


def test_pq_encode_plan_is_shuffle_free(spark):
    """The encode pass must stay a pure projection against the
    broadcast model: no shuffle exchange at any corpus size (the
    100 TB index build is one map-only scan)."""
    emb = _emb(spark)
    books = pq_train(emb)
    plan = explain_simple(spark, pq_encode(emb, books))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" in plan or "LogicalRDD" in plan, plan


def test_ivfpq_index_plan_is_shuffle_free(spark):
    """The full stored index (cell + codes) must ALSO build without a
    shuffle: both columns come from one projection against the two
    broadcast models — re-pairing them with an equi-join would cost
    two full-corpus exchanges (the review finding this pins)."""
    from etl_finance_spark.llm.pq import ivfpq_index
    from etl_finance_spark.llm.similarity import ivf_centroids

    emb = _emb(spark)
    idx = ivfpq_index(emb, ivf_centroids(emb), pq_train(emb))
    plan = explain_simple(spark, idx)
    assert "Exchange hashpartitioning" not in plan, plan
    assert idx.columns == ["cid", "cell", "codes"]


def test_ivfpq_invariant_to_partitioning(spark):
    """Every ranking stage breaks ties on the unique cid after 6dp
    rounding, so IVF-PQ results must be row-identical under a different
    input partition layout (the same invariance contract the LSH/IVF
    rungs pin in test_llm.py)."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 30)

    def snap(vectors):
        return sorted(
            tuple(r) for r in ivfpq_topk(vectors, queries, TOP_K).collect()
        )

    base = snap(emb)
    assert len(base) == 30 * TOP_K
    assert snap(emb.repartition(7)) == base


def test_pq_model_golden_digest(spark):
    """The trained codebooks are pinned bit for bit (see
    test_llm.py::test_ivf_model_golden_digest for the arithmetic order
    this holds to)."""
    (row,) = pq_train(_emb(spark)).collect()
    assert model_digest(row["pqw"], ("j", "code"), "w") == (
        "32bb56f938ae177f42db709faa768f8fb5cbffe99f8736e0dd6cf776ac566f68"
    )


def test_pq_empty_input_schema_stable(spark):
    """Degenerate inputs: an empty corpus trains an empty (but
    present) model row and encodes to zero rows with the same schema."""
    emb = _emb(spark).filter(F.lit(False))
    books = pq_train(emb)
    rows = books.collect()
    assert len(rows) == 1 and rows[0]["pqw"] == []
    out = pq_encode(emb, books)
    assert out.columns == ["vec_id", "codes"]
    assert out.count() == 0


def test_q_ivfpq_topk_declared_query(spark):
    """The declared (WEAK) driver-surface form: full top-k per query
    over the shared session corpus, rank contract identical to the
    sibling rungs (1..k per qid, no self-pairs, scores in [-1, 1]
    after 6dp rounding)."""
    from etl_finance_spark.llm.pq import q_ivfpq_topk
    from etl_finance_spark.llm.similarity import N_QUERY

    rows = q_ivfpq_topk(spark, SF_SMOKE).collect()
    assert len(rows) == N_QUERY * TOP_K
    by_q = {}
    for r in rows:
        assert r.qid != r.cid
        assert -1.0 - 1e-6 <= r.approx_cos <= 1.0 + 1e-6
        by_q.setdefault(r.qid, []).append(r.rank)
    assert set(by_q) == set(range(N_QUERY))
    assert all(sorted(v) == list(range(1, TOP_K + 1)) for v in by_q.values())
