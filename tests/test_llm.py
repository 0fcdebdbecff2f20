"""Property tests for the LLM-pipeline ladder (SURVEY.md §5 layer 3):
the approximate rungs must agree with their exact oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE, model_digest
from etl_finance_spark.catalog import table
from etl_finance_spark.llm.dedup import (
    JACCARD_TAU, exact_jaccard_pairs, hamming_distance, minhash_lsh_pairs,
    simhash,
)
from etl_finance_spark.llm.similarity import (
    TOP_K, ann_lsh_topk, cosine_topk, with_unit_vec,
)


def _docs(spark):
    return table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 200)


def test_minhash_lsh_recall_vs_exact(spark):
    docs = _docs(spark)
    exact = {
        (r.d1, r.d2) for r in exact_jaccard_pairs(docs, JACCARD_TAU).collect()
    }
    lsh = {
        (r.d1, r.d2) for r in minhash_lsh_pairs(docs, JACCARD_TAU).collect()
    }
    assert exact, "fixture should contain near-dup pairs"
    # LSH verifies candidates with the exact measure → no false positives
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    # 16 bands × 2 rows: P(candidate | j>=0.8) ≈ 1 - (1 - 0.64)^16 ≈ 1.0
    assert recall >= 0.95, f"recall {recall:.3f}"


def test_simhash_deterministic_and_locality(spark):
    """Determinism + locality for the q_simhash WEAK rung."""
    docs = _docs(spark)
    a = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    b = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert a == b  # deterministic across runs

    # identical texts → identical fingerprints (hamming 0)
    lit = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here entirely unrelated content")],
        ["doc_id", "text"],
    )
    fp = {r.doc_id: r.simhash for r in simhash(lit).collect()}
    df = spark.createDataFrame(
        [(fp[1], fp[2]), (fp[1], fp[3])], ["x", "y"]
    ).select(hamming_distance(F.col("x"), F.col("y")).alias("d"))
    d_same, d_diff = [r.d for r in df.collect()]
    assert d_same == 0
    assert d_diff > 0


def test_ann_recall_vs_brute_force(spark):
    emb = with_unit_vec(table(spark, SF_SMOKE, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 50)
    brute = cosine_topk(emb, queries, TOP_K).collect()
    ann = ann_lsh_topk(emb, queries, TOP_K).collect()
    bset = {(r.qid, r.cid) for r in brute}
    aset = {(r.qid, r.cid) for r in ann}
    assert len(bset) == 50 * TOP_K
    recall = len(aset & bset) / len(bset)
    # Unclustered synthetic vectors are LSH's worst case. Fixtures and
    # hyperplanes are deterministic, so recall is a constant (0.452 on
    # sf0.001); the floor sits just below it to catch any algorithmic
    # regression while staying robust to fixture regeneration.
    assert recall >= 0.4, f"recall {recall:.3f}"
    # every ANN hit must carry the exact cosine of the brute-force path
    bcos = {(r.qid, r.cid): r.cosine for r in brute}
    for r in ann:
        if (r.qid, r.cid) in bcos:
            assert abs(r.cosine - bcos[(r.qid, r.cid)]) < 1e-9


def test_salting_never_changes_results(spark):
    """The PAIR_SALTS fan-out on cell/band-keyed joins is a pure
    parallelism move: every pair still meets exactly once, so results
    with salting disabled (PAIR_SALTS=1) must be row-identical for the
    LSH top-k, the IVF top-k, and the semantic-dedup verdict."""
    import etl_finance_spark.llm.similarity as S

    emb = with_unit_vec(table(spark, SF_SMOKE, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 50)

    def snapshot():
        lsh = {tuple(r) for r in S.ann_lsh_topk(emb, queries, TOP_K).collect()}
        ivf = {tuple(r) for r in S.ann_ivf_topk(emb, queries, TOP_K).collect()}
        sem = {tuple(r) for r in S.semantic_dedup(emb, S.SEMDEDUP_TAU).collect()}
        return lsh, ivf, sem

    salted = snapshot()
    orig = S.PAIR_SALTS
    S.PAIR_SALTS = 1
    try:
        unsalted = snapshot()
    finally:
        S.PAIR_SALTS = orig
    for name, s, u in zip(("lsh", "ivf", "semdedup"), salted, unsalted):
        assert s == u, f"{name}: salted and unsalted results differ"


def test_word_ngrams_degenerate_docs(spark):
    """Docs with < n tokens must yield zero shingles, not an ANSI
    INVALID_ARRAY_INDEX crash (round-1 ADVICE): sequence(1, size-1)
    descends on a 1-token doc."""
    from etl_finance_spark.llm.dedup import word_ngrams

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two tokens"), (4, "a b c")],
        ["doc_id", "text"],
    )
    got = {(r.doc_id, tuple(r.tok)) for r in word_ngrams(docs, 2).collect()}
    assert got == {
        (3, ("two", "tokens")),
        (4, ("a", "b")),
        (4, ("b", "c")),
    }


def test_null_text_docs_get_no_signatures(spark):
    """Null-text docs must be absent from MinHash/SimHash signatures
    and from the LSH candidate stream. Without the up-front filter
    they'd carry all-NULL signatures whose band hashes all collide —
    k null docs meet as k(k-1)/2 candidates in every band, the exact
    quadratic blowup the banding exists to prevent."""
    from etl_finance_spark.llm.dedup import (
        lsh_candidate_pairs, minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, None), (4, None), (5, "a b d")],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs)
    assert {r.doc_id for r in sigs.select("doc_id").collect()} == {1, 5}
    assert sigs.filter(F.col("mh0").isNull()).count() == 0
    cand = lsh_candidate_pairs(sigs, band_rows=4)
    got = {(r.d1, r.d2) for r in cand.select("d1", "d2").collect()}
    assert all(d in (1, 5) for pair in got for d in pair)
    assert {r.doc_id for r in simhash(docs).select("doc_id").collect()} \
        == {1, 5}


def test_ivf_recall_and_determinism(spark):
    from etl_finance_spark.llm.similarity import ann_ivf_topk, ivf_centroids

    emb = with_unit_vec(table(spark, SF_SMOKE, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 50)
    brute = cosine_topk(emb, queries, TOP_K).collect()
    ivf = ann_ivf_topk(emb, queries, TOP_K).collect()
    bset = {(r.qid, r.cid) for r in brute}
    iset = {(r.qid, r.cid) for r in ivf}
    # candidate generation must be duplicate-free WITHOUT a distinct
    # (one cell per corpus vector x distinct probed cells — the reason
    # ann_ivf_topk carries no dedup shuffle); a dupe here would surface
    # as repeated (qid, cid) rows in the top-k
    assert len(ivf) == len(iset)
    recall = len(iset & bset) / len(bset)
    # nprobe=2 of 16 cells reads ~1/8 of the corpus; measured recall is
    # a deterministic 0.52 on sf0.001 — 4x better than the 0.125 random
    # routing would give. Floor just below the constant.
    assert recall >= 0.45, f"recall {recall:.3f}"
    # ivf cosines are exact (rerank is the brute-force formula)
    bcos = {(r.qid, r.cid): r.cosine for r in brute}
    for r in ivf:
        if (r.qid, r.cid) in bcos:
            assert abs(r.cosine - bcos[(r.qid, r.cid)]) < 1e-9
    # seedless determinism: the model reproduces exactly across builds
    c1 = sorted(map(tuple, ivf_centroids(emb).collect()))
    c2 = sorted(map(tuple, ivf_centroids(emb).collect()))
    assert c1 == c2


def test_ivf_query_cells_late_binds_n_probe(spark, monkeypatch):
    """ivf_query_cells resolves N_PROBE at CALL time, not def time
    (ADVICE r10): a monkeypatched module global must reach callers
    that omit nprobe — the same late-binding contract PAIR_SALTS
    keeps in ivf_candidates. Rows per query == effective nprobe."""
    from etl_finance_spark.llm import similarity
    from etl_finance_spark.llm.similarity import ivf_centroids, ivf_query_cells

    emb = with_unit_vec(table(spark, SF_SMOKE, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    cent = ivf_centroids(emb)
    assert similarity.N_PROBE != 3  # the patch must actually change it
    monkeypatch.setattr(similarity, "N_PROBE", 3)
    per_q = (
        ivf_query_cells(queries, cent)
        .groupBy("qid").count().select("count").distinct().collect()
    )
    assert [r["count"] for r in per_q] == [3]
    # an explicit nprobe still wins over the global
    explicit = ivf_query_cells(queries, cent, nprobe=1)
    assert explicit.groupBy("qid").count().filter(
        F.col("count") != 1).count() == 0


def test_ivf_sample_bounded_training(spark):
    """Quantizer training is bounded by train_cap (the FAISS-style
    constant-cost index build). Invariants: (a) any cap >= corpus size
    yields the identical model — the sample IS the corpus, so the cap's
    existence never perturbs fixture-scale results; (b) a cap smaller
    than the corpus still yields a deterministic model with routable
    recall (cells cover the data; nprobe search still beats random)."""
    from etl_finance_spark.llm.similarity import ann_ivf_topk, ivf_centroids

    emb = with_unit_vec(table(spark, SF_SMOKE, "embeddings"))
    n = emb.count()
    full_a = sorted(map(tuple, ivf_centroids(emb, train_cap=n).collect()))
    full_b = sorted(map(tuple, ivf_centroids(emb, train_cap=10 * n).collect()))
    assert full_a == full_b  # cap >= corpus: sample == corpus, same model

    cap = max(64, n // 4)
    small_a = sorted(map(tuple, ivf_centroids(emb, train_cap=cap).collect()))
    small_b = sorted(map(tuple, ivf_centroids(emb, train_cap=cap).collect()))
    assert small_a == small_b  # hash-ordered sample is deterministic

    # a sample-trained model still routes: recall beats random routing
    # (nprobe/ncells = 1/8) by a wide margin on the fixture corpus
    queries = emb.filter(F.col("vec_id") < 50)
    brute = cosine_topk(emb, queries, TOP_K).collect()
    cent = ivf_centroids(emb, train_cap=cap)
    ivf = ann_ivf_topk(emb, queries, TOP_K, cent=cent).collect()
    bset = {(r.qid, r.cid) for r in brute}
    iset = {(r.qid, r.cid) for r in ivf}
    recall = len(iset & bset) / len(bset)
    assert recall >= 0.3, f"sample-trained recall {recall:.3f}"


def test_lloyd_sums_squared_distance_dimension_by_dimension():
    """lloyd's d2 must add (x - c)^2 left to right from 0.0, as the SQL
    routing fold does. The fixtures hold no near-ties, so the golden
    digests alone cannot see a reassociated sum; this input can. From
    the origin, cell 0's squares are 2^54, 2^54 and fourteen 4s: in
    order each 4 is half an ulp of 2^55 and rounds away (d2 = 2^55),
    while np.sum / einsum / matmul add the 4s among themselves first
    (2^55 + 56). Cell 1 sits at 2^55 + 16 either way, so only the
    in-order sum keeps the point in cell 0."""
    import numpy as np

    from etl_finance_spark.llm.similarity import lloyd

    big = 2.0 ** 27
    seeds = np.array([[big, big] + [2.0] * 14,
                      [big, big, 4.0] + [0.0] * 13])
    ids, cents = lloyd(np.zeros((1, 16)), seeds, 1)
    assert ids.tolist() == [0]
    assert cents.tolist() == [[0.0] * 16]


def test_ivf_model_golden_digest(spark):
    """The trained quantizer is pinned bit for bit, at full cap and at a
    cap below the corpus size (digests of the model the former SQL
    folds trained; the summation order they imply is pinned on a
    crafted input by the lloyd test above)."""
    from etl_finance_spark.llm.similarity import ivf_centroids

    emb = with_unit_vec(table(spark, SF_SMOKE, "embeddings"))
    n = emb.count()
    assert n == 500  # the digests below are for this fixture
    for kwargs, want in (
        ({}, "b385ca3010d4ea837bc6ae29799c3d39900df91be2aae133904a40904b9a8eea"),
        ({"train_cap": max(64, n // 4)},
         "c665250a21ec08d79502c33d5a76ebeaba3059fcdd77a3d32bbb316cf15f1114"),
    ):
        (row,) = ivf_centroids(emb, **kwargs).collect()
        assert model_digest(row["cents"], ("cell",), "cvec") == want, kwargs


def test_connected_components_known_graph(spark):
    """Pin component structure on a crafted graph: two chains and an
    isolated pair; labels converge to each component's min node id."""
    from etl_finance_spark.llm.clusters import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4 -> component 1
         (10, 11),                     # pair -> component 10
         (20, 21), (21, 22)],          # chain -> component 20
        ["d1", "d2"],
    )
    got = {(r.node, r.component) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}


def test_connected_components_matches_networkless_union_find(spark):
    """Randomized cross-check vs a driver-side union-find oracle."""
    import random

    from etl_finance_spark.llm.clusters import connected_components

    rng = random.Random(42)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expect = {x: find(x) for x in parent}
    # path-compress fully
    expect = {x: find(x) for x in parent}
    pairs = spark.createDataFrame(edges, ["d1", "d2"])
    got = {r.node: r.component for r in
           connected_components(pairs).collect()}
    assert got == expect


def test_prefix_filter_matches_inverted_index_with_fewer_candidates(spark):
    """Prefix filtering must return the IDENTICAL pair set as the full
    inverted-index join, while its candidate join is strictly smaller."""
    from etl_finance_spark.llm.dedup import (
        doc_tokens, exact_jaccard_pairs, jaccard_pairs_prefix,
    )

    docs = table(spark, SF_SMOKE, "documents")
    full = sorted(map(tuple, exact_jaccard_pairs(docs, 0.8).collect()))
    pref = sorted(map(tuple, jaccard_pairs_prefix(docs, 0.8).collect()))
    assert full == pref
    # candidate volume: full index joins every token occurrence; the
    # prefix join touches only the rare-token prefix slice
    toks = doc_tokens(docs)
    full_cand = (
        toks.alias("a").join(toks.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id")).count()
    )
    import pyspark.sql.functions as SF
    from pyspark.sql.window import Window as W

    sizes = toks.groupBy("doc_id").agg(SF.count(SF.lit(1)).alias("n"))
    freq = toks.groupBy("tok").agg(SF.count(SF.lit(1)).alias("df"))
    prefix = (
        toks.join(freq, "tok").join(sizes, "doc_id")
        .withColumn("r", SF.row_number().over(
            W.partitionBy("doc_id").orderBy("df", "tok")))
        .filter(SF.col("r") <= SF.col("n") - SF.ceil(SF.lit(0.8) * SF.col("n")) + 1)
        .select("doc_id", "tok")
    )
    pref_cand = (
        prefix.alias("a").join(prefix.alias("b"), "tok")
        .filter(SF.col("a.doc_id") < SF.col("b.doc_id")).count()
    )
    assert pref_cand < full_cand / 5, (pref_cand, full_cand)


def test_split_proportions_and_repartition_invariance(spark):
    """Content-hash split: proportions near 12/2/2 sixteenths, and the
    assignment is identical under any repartitioning."""
    from etl_finance_spark import registry

    fn = registry.collect()["q_split_deterministic"].fn
    out = fn(spark, SF_SMOKE)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    assert 0.60 <= counts["train"] / total <= 0.90
    assert counts["val"] / total <= 0.25 and counts["test"] / total <= 0.25
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, out.repartition(13).collect()))
    assert a == b


def test_weighted_sample_prefers_heavier_docs(spark):
    """A-ES keys must bias selection toward larger weights: the sampled
    docs' mean n_chars exceeds the population mean (deterministic data,
    deterministic assert)."""
    from etl_finance_spark import registry

    sample = registry.collect()["q_weighted_sample"].fn(spark, SF_SMOKE)
    docs = table(spark, SF_SMOKE, "documents")
    samp_mean = (
        sample.join(docs, sample.doc_id == docs.doc_id)
        .agg(F.avg("n_chars")).collect()[0][0]
    )
    pop_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    assert samp_mean > pop_mean, (samp_mean, pop_mean)


def test_connected_components_raises_on_exhaustion(spark):
    """ADVICE round-2: exhausting max_iter must fail loud, not return
    silently-unconverged labels. A 6-node path graph needs ~3 passes;
    max_iter=1 cannot converge it."""
    import pytest

    from etl_finance_spark.llm.clusters import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(edges, max_iter=1)
    # and the same graph converges fine with headroom
    labels = connected_components(edges, max_iter=20)
    assert labels.select("component").distinct().count() == 1


def test_multimodal_empty_payload_yields_null(spark):
    """ADVICE round-2: an empty payload must produce NULL mean_byte /
    features (list_avg([]) is NULL in the oracle), not 0.0."""
    from etl_finance_spark.llm.multimodal import extract_features

    media = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b""))],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in extract_features(media).collect()}
    assert rows[2].mean_byte is None
    assert rows[2].features is None
    assert rows[2].n_bytes == 0
    assert rows[1].mean_byte == float(sum(b"abc")) / 3


def test_pack_contexts_invariants(spark):
    """Packing layout: offsets are contiguous within each shard (each
    doc starts where the previous ended), chunk_pos < CTX_LEN, and
    token totals are preserved."""
    from etl_finance_spark import registry
    from etl_finance_spark.llm.corpus import CTX_LEN

    out = registry.collect()["q_pack_contexts"].fn(spark, SF_SMOKE)
    rows = out.orderBy("shard", "doc_id").collect()
    pos = {}
    for r in rows:
        assert r.off == pos.get(r.shard, 0), (r.shard, r.doc_id)
        assert 0 <= r.chunk_pos < CTX_LEN
        assert r.chunk_id == r.off // CTX_LEN
        pos[r.shard] = r.off + r.n_tokens
    docs = table(spark, SF_SMOKE, "documents")
    total = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0].t
    assert sum(r.n_tokens for r in rows) == total


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc sharing an eval doc's exact text must be flagged
    with at least its distinct 5-gram count."""
    from etl_finance_spark.llm.corpus import EVAL_CAP, NGRAM_N
    from etl_finance_spark.llm.dedup import word_ngrams

    docs = table(spark, SF_SMOKE, "documents")
    eval_doc = docs.filter(F.col("doc_id") == 0).collect()[0]
    planted = spark.createDataFrame(
        [(900000, eval_doc.text)], "doc_id long, text string"
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    grams = word_ngrams(corpus, n=NGRAM_N)
    eval_g = grams.filter(F.col("doc_id") < EVAL_CAP).select("tok").distinct()
    hits = {
        r.doc_id: r.shared_grams
        for r in grams.filter(F.col("doc_id") >= EVAL_CAP)
        .join(F.broadcast(eval_g), "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_grams"))
        .collect()
    }
    n_grams_doc0 = grams.filter(F.col("doc_id") == 0).count()
    assert hits.get(900000) == n_grams_doc0


def test_pii_patterns_match_real_pii(spark):
    """The fixture text contains no emails/phones, so the declared
    query exercises only the blocklist term — this pins the other two
    patterns against synthetic PII so a regex regression can't hide
    behind the fixture."""
    from etl_finance_spark.llm.corpus import PII_PATTERNS

    rows = spark.createDataFrame(
        [
            (1, "contact bob.smith+spam@sub.example.co.uk today"),
            (2, "call +1 800 555 0199 or 040-1234567 now"),
            (3, "customer asked a customer about customers"),
        ],
        ["doc_id", "text"],
    )
    red = F.col("text")
    for pat, tag in PII_PATTERNS:
        red = F.regexp_replace(red, pat, tag)
    got = {r.doc_id: r.out for r in rows.select("doc_id", red.alias("out")).collect()}
    assert got[1] == "contact <EMAIL> today"
    assert got[2] == "call <PHONE> or <PHONE> now"
    # \b keeps "customers" intact; bare "customer" is scrubbed
    assert got[3] == "<TERM> asked a <TERM> about customers"


class TestSemanticDedup:
    """Brute-force soundness of the SemDeDup survivor rule
    (llm/similarity.py semantic_dedup): within a cell, dropped ⇔ a
    smaller-id neighbor at cosine ≥ τ exists; plus determinism and
    measured (not hidden) cross-cell recall loss."""

    def _brute(self, spark):
        import numpy as np

        from etl_finance_spark.llm.similarity import (
            SEMDEDUP_TAU,
            q_semantic_dedup,
        )

        out = {r.vec_id: r for r in
               q_semantic_dedup(spark, SF_SMOKE).collect()}
        emb = table(spark, SF_SMOKE, "embeddings").collect()
        vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in emb}
        return out, vecs, SEMDEDUP_TAU

    def test_survivor_rule_sound_and_complete(self, spark):
        import numpy as np

        out, vecs, tau = self._brute(spark)
        assert set(out) == set(vecs)
        ids = sorted(vecs)
        mat = np.stack([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
        cos = np.round(mat @ mat.T, 6)
        idx = {v: k for k, v in enumerate(ids)}
        for i in ids:
            same_cell_smaller = [
                j for j in ids
                if j < i and out[j].cell == out[i].cell
                and cos[idx[j], idx[i]] >= tau
            ]
            if out[i].kept:
                assert not same_cell_smaller, (i, same_cell_smaller)
                assert out[i].dup_of is None
            else:
                assert same_cell_smaller, i
                assert out[i].dup_of == min(same_cell_smaller)

    def test_deterministic(self, spark):
        from etl_finance_spark.llm.similarity import q_semantic_dedup

        one = sorted(map(tuple, q_semantic_dedup(
            spark, SF_SMOKE).collect()))
        two = sorted(map(tuple, q_semantic_dedup(
            spark, SF_SMOKE).collect()))
        assert one == two

    def test_cross_cell_miss_is_bounded(self, spark):
        """The design trades recall for scale: count true near-dup
        pairs (any cell) vs pairs visible within cells. The miss rate
        is data-dependent; assert the accounting adds up and record
        that every within-cell true pair was acted on."""
        import numpy as np

        out, vecs, tau = self._brute(spark)
        ids = sorted(vecs)
        mat = np.stack([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
        cos = np.round(mat @ mat.T, 6)
        idx = {v: k for k, v in enumerate(ids)}
        true_pairs = [
            (a, b) for a in ids for b in ids if a < b
            and cos[idx[a], idx[b]] >= tau
        ]
        within = [(a, b) for a, b in true_pairs
                  if out[a].cell == out[b].cell]
        # every within-cell true pair must have dropped its larger id
        for _, b in within:
            assert not out[b].kept
        # sanity: the rule never drops more than the true-pair closure
        dropped = {i for i in ids if not out[i].kept}
        assert dropped <= {b for _, b in true_pairs}


def test_corpus_memo_survives_external_release(spark):
    """Ordering hazard (review r5): a library caller that
    managed_persist's a plan-equal corpus frame BEFORE the memo builds
    shares one cache entry with it (Spark's cache manager keys by
    analyzed plan); the harness's post-consumption release_cuts() then
    drains the entry the memo believed was session-lived. The memo
    accessor self-heals by re-pinning on access (ensure_persisted), so
    later queries keep the one-materialization amortization."""
    import etl_finance_spark.llm.similarity as S
    from etl_finance_spark import lineage

    # library caller persists a plan-equal frame first
    external = with_unit_vec(table(spark, SF_SMOKE, "embeddings"))
    lineage.managed_persist(external)
    memo_df = S._corpus_unit_vecs(spark, SF_SMOKE)
    memo_df.count()  # materialize the (shared) cache entry
    lineage.release_cuts()  # harness drain takes the shared entry down
    healed = S._corpus_unit_vecs(spark, SF_SMOKE)
    assert not lineage._uncached(healed), (
        "memo accessor must re-pin after an external release"
    )
    assert healed.count() > 0


def test_jaccard_rungs_release_their_persists(spark):
    """Every Jaccard rung routes its persisted token relation (and the
    prefix rung its prefix frame) through lineage.managed_persist: after
    a noop run and the harness drain release_cuts(), the executor cache
    holds exactly as many RDDs as before. A bare .persist() pins one
    per call for the session. The crafted corpus is built by no other
    test, so no cache entry is shared with one."""
    from etl_finance_spark.lineage import release_cuts
    from etl_finance_spark.llm.dedup import (
        BAND_ROWS, jaccard_pairs_prefix, ngram_jaccard_pairs,
    )
    from etl_finance_spark.measure import run_noop

    # pairs (2k, 2k+1) share 8 of 10 tokens: Jaccard 0.8 per pair
    docs = spark.createDataFrame(
        [(i, " ".join([f"t{i // 2}_{j}" for j in range(8)] + [f"u{i}"]))
         for i in range(60)],
        "doc_id long, text string",
    )
    jsc = spark.sparkContext._jsc
    release_cuts()
    for name, build in (
        ("exact", lambda: exact_jaccard_pairs(docs, JACCARD_TAU)),
        ("ngram", lambda: ngram_jaccard_pairs(docs, 0.2)),
        ("minhash", lambda: minhash_lsh_pairs(docs, JACCARD_TAU,
                                              band_rows=BAND_ROWS)),
        ("prefix", lambda: jaccard_pairs_prefix(docs, JACCARD_TAU)),
    ):
        before = len(jsc.getPersistentRDDs())
        run_noop(build())
        release_cuts()
        assert len(jsc.getPersistentRDDs()) == before, name
