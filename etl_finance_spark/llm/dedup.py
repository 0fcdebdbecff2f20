"""Deduplication operators for LLM training-data pipelines (SURVEY.md
§2.2 X-LLM-1..3 + BASELINE.json north-star mandate).

Three rungs of the same ladder, by scale:

1. **Exact** (`q_dedup_text`): hash-groupBy on the full text. One
   shuffle on the text hash; at 100 TB this is the cheapest rung and
   runs first to shrink the corpus.
2. **Exact pairwise Jaccard** (`q_jaccard_pairs`): token-set overlap
   via token-inverted-index self-join. Quadratic in docs-per-token —
   correct but only viable on a bounded candidate set; serves as the
   *oracle* for rung 3.
3. **MinHash + LSH banding** (`q_minhash_lsh`): the 100 TB path.
   32 hash functions → 16 bands × 2 rows; only band-collision
   candidates get exact verification, so the pair space never
   materializes. Fully deterministic (xxhash64 seeds), implemented as
   pure DataFrame ops — no pandas, no driver loops.

Plus `q_simhash`: 63-bit SimHash fingerprints (near-dup by Hamming
distance; the property test pairs it with bit_count(xor)).

The token-set helpers cap the corpus at ``doc_id < 500`` so bench
runtime is scale-stable; the LSH path is the one meant to run uncapped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_finance_spark.catalog import table
from etl_finance_spark.hofbarrier import barrier
from etl_finance_spark.lineage import managed_persist
from etl_finance_spark.registry import register

N_MINHASH = 32
BAND_ROWS = 2  # 16 bands of 2 rows: P(candidate | j=0.6) ≈ 0.999
BAND_ROWS_WIDE = 4  # 8 bands of 4 rows: the measured 50k-doc setting
BAND_ROWS_WIDEN_DOCS = 10_000  # corpus size where the knob auto-widens
JACCARD_TAU = 0.8
DOC_CAP = 500  # exact-pair rungs bound their candidate set


def derive_band_rows(n_docs: int) -> int:
    """Corpus-size-derived LSH precision knob (VERDICT r12 item 6).

    Rows-per-band trades recall against the false-candidate floor: a
    pair with Jaccard j collides per band with P ≈ j^band_rows, so any
    corpus with nonzero BASELINE similarity has a false-candidate term
    quadratic in corpus size at band_rows=2. Below
    BAND_ROWS_WIDEN_DOCS the quadratic term is bounded by the corpus
    itself and recall-first band_rows=2 wins; at or above it the
    measured 50k-doc point applies (band_rows=4: candidates collapse
    98,813 → 504 at 99.6% planted recall — test_scale_smoke.py), and
    band_rows=8 is documented over-pruning (57% recall), so the ladder
    stops at 4."""
    return BAND_ROWS if n_docs < BAND_ROWS_WIDEN_DOCS else BAND_ROWS_WIDE


def _token_set(text: Column) -> Column:
    """THE token-set rule (distinct whitespace tokens). doc_tokens,
    minhash_signatures, and simhash must all tokenize identically —
    LSH candidates generated under one rule but Jaccard-verified under
    another silently lose recall — so the rule exists exactly once."""
    return F.array_distinct(F.split(text, " "))


def doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) pairs, token-set semantics (distinct per doc).

    Deliberately does NOT carry the token-set size per row: an r14
    experiment rode ``n`` through the inverted-index self-join to drop
    the sizes aggregate + join-backs. Local timing could not decide it
    on this host — a same-session A/B first read 3.6x slower, but the
    interleaved fresh-process re-measurement showed IDENTICAL old-code
    binaries swinging 2.9x run-to-run (OPTIMIZATION_r14.md change 2;
    both orderings were noise artifacts). First principles did decide
    it: the extra per-row bytes land on the QUADRATIC join
    intermediate, the largest frame in the plan, while the sizes
    join-backs being replaced operate on the far smaller
    post-threshold pair set (guide §2.3: shuffle fewer bytes *on the
    big frames*). Sizes stay a separate per-doc aggregate joined onto
    pairs; don't re-run the experiment without an interleaved
    fresh-process protocol."""
    return docs.select(
        "doc_id",
        F.explode(_token_set(F.col("text"))).alias("tok"),
    )


def token_jaccard_pairs(toks: DataFrame, tau: float) -> DataFrame:
    """All doc pairs with Jaccard >= tau over any ``(doc_id, tok)``
    token-set relation (unigrams, shingles).

    Inverted-index join: pairs only form through a shared token, so the
    complexity is sum over tokens of df(t)^2 — fine for rare tokens,
    quadratic for stopwords (which is why rungs 3 and the prefix filter
    exist). Sizes attach to the post-aggregation pair set, NOT the
    index rows — the measured r14 trade recorded at doc_tokens.
    """
    # three consumers (sizes + both join sides): tokenize once; managed
    # so the harness's release_cuts() drains it post-consumption
    toks = managed_persist(toks)
    a, b = toks.alias("a"), toks.alias("b")
    shared = (
        a.join(b, "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return _jaccard_filter(shared, toks, tau)


def _candidate_shared(cands: DataFrame, toks: DataFrame) -> DataFrame:
    """Shared-token count per candidate pair (d1, d2): the token
    relation joins back onto the candidates only, so exact verification
    is linear in candidates (semi-join pruned)."""
    t1 = toks.select(F.col("doc_id").alias("d1"), "tok")
    t2 = toks.select(F.col("doc_id").alias("d2"), "tok")
    return (
        cands.join(t1, "d1")
        .join(t2, ["d2", "tok"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def _jaccard_filter(shared: DataFrame, toks: DataFrame,
                    tau: float) -> DataFrame:
    """THE exact-verification step every Jaccard rung ends in: per-doc
    token-set sizes join onto the (d1, d2, shared) pairs, Jaccard is
    rounded 6dp (the cross-engine rule) and thresholded at ``tau``."""
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared"))
    return (
        shared.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= tau)
        .select("d1", "d2", "jaccard")
    )


def exact_jaccard_pairs(docs: DataFrame, tau: float) -> DataFrame:
    """X-LLM-2: all doc pairs with token-set Jaccard >= tau."""
    return token_jaccard_pairs(doc_tokens(docs), tau)


def word_ngrams(docs: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, shingle) pairs of word n-grams — higher-order zip over
    the token array (no explode-then-window, no UDF). No per-row size
    column, deliberately — doc_tokens records the measured reason.

    The shingle is the ``slice`` of the token array, NOT a re-joined
    string: tokens never contain the split delimiter, so the array is
    bijective with ``concat_ws(" ", ...)`` — identical equality and
    distinctness semantics — while skipping n string copies per gram.
    That cut the sf0.1 decontamination scan 5.4s -> 1.5s (measured);
    consumers only equi-join / count ``tok``, never project it out, so
    the column type is free to be array<string>.

    Docs with fewer than ``n`` tokens yield no shingles and are dropped
    up front: without the guard, ``sequence(1, size-1)`` on a 1-token
    doc produces a DESCENDING [1, 0] whose out-of-range slice throws
    under ANSI mode, where the oracle's ``generate_series(1, 0)``
    returns empty (round-1 ADVICE, confirmed on a 1-token doc)."""
    toks = F.split("text", " ")
    # materialize the token array ONCE per row behind a barrier: the
    # per-position slice lambda below is loop-invariant in the token
    # array, but inlined (collapsed) it re-tokenizes once per gram —
    # measured 2.17s -> 0.59s for the 5-gram decontamination scan at
    # sf0.1 (r14; the hazard hofbarrier records)
    w = barrier(
        docs.filter(F.size(toks) >= n).select("doc_id", toks.alias("w"))
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - (n - 1)),
        lambda i: F.slice(F.col("w"), i, n),
    )
    return w.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("tok")
    )


def ngram_jaccard_pairs(docs: DataFrame, tau: float, n: int = 2) -> DataFrame:
    """N-gram-shingle Jaccard near-dup: same inverted-index join as the
    unigram rung but over word n-grams — order-sensitive, so it
    separates docs that share vocabulary but not phrasing (exactly what
    the tiny shared vocabulary of the fixtures defeats for unigrams)."""
    return token_jaccard_pairs(word_ngrams(docs, n), tau)


def minhash_signatures(docs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """Per-doc MinHash signature, ZERO-shuffle since round-4: a doc's
    token set is row-local, so each seed's min is an array_min over a
    row-local transform (xxhash64(tok, seed)) — no explode, no
    groupBy(doc_id) exchange of every token in the corpus (the round-3
    shape; the min values are identical since both fold the same
    distinct token set). Hash-op count is unchanged at
    n_hashes × |tokens|; only the token shuffle disappears.

    Null-text docs are dropped up front (no token set → no signature),
    matching the round-3 explode shape where they produced no rows.
    Without the filter they'd emit all-NULL signatures whose band
    hashes all agree — k null docs would meet as k(k-1)/2 candidate
    pairs in every band, the exact quadratic blowup LSH exists to
    avoid."""
    # barrier: the n_hashes seed columns all fold over the same token
    # set — collapsed, the projection re-tokenizes once PER SEED
    # (measured 0.51s -> 0.26s at the 500-doc cap, r14)
    arr = barrier(docs.filter(F.col("text").isNotNull()).select(
        "doc_id", _token_set(F.col("text")).alias("toks")
    ))

    def mh(seed: int):
        # factory, not an inline 2-arg lambda: transform would bind a
        # second lambda parameter to the ARRAY INDEX, shadowing the seed
        return F.array_min(
            F.transform("toks", lambda t: F.xxhash64(t, F.lit(seed)))
        ).alias(f"mh{seed}")

    return arr.select("doc_id", *[mh(i) for i in range(n_hashes)])


def lsh_candidate_pairs(sigs: DataFrame, n_hashes: int = N_MINHASH,
                        band_rows: int = BAND_ROWS) -> DataFrame:
    """Band the signatures and emit candidate pairs via band-bucket
    join. Only docs agreeing on an entire band meet — the join key is
    (band_idx, band_hash), so the shuffle is by bucket, never all-pairs."""
    n_bands = n_hashes // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.xxhash64(
                    *[F.col(f"mh{bi * band_rows + r}") for r in range(band_rows)]
                ).alias("band_hash"),
            )
            for bi in range(n_bands)
        ]
    )
    exploded = sigs.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_hash").alias("band_hash"),
    )
    l, r = exploded.alias("l"), exploded.alias("r")
    return (
        l.join(r, ["band_idx", "band_hash"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("d1"), F.col("r.doc_id").alias("d2")
        )
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, tau: float,
                      n_hashes: int = N_MINHASH,
                      band_rows: int | None = None) -> DataFrame:
    """Rung 3 end-to-end: LSH candidates → the shared exact Jaccard
    verification (`_candidate_shared` + `_jaccard_filter`).

    ROWS-PER-BAND IS THE PRECISION KNOB: a pair with Jaccard j collides
    per band with probability j^band_rows, so any corpus with a nonzero
    BASELINE similarity (shared stopwords, boilerplate, a bounded
    vocabulary) has a quadratic false-candidate term at band_rows=2 —
    every pair sharing even one token is a candidate with P ≈ 16·j².
    Measured on a 50k-doc corpus with 500 planted near-dups and ~22M
    pairs sharing one token (tests/test_scale_smoke.py): band_rows=2 →
    98 813 candidates (the false-positive floor), band_rows=4 → 504
    candidates at 498/500 planted recall, band_rows=8 → over-pruned
    (57% recall).

    The default (band_rows=None) is therefore DERIVED from corpus size
    via `derive_band_rows`: 2 below 10k docs (recall-first; the
    quadratic term is bounded), 4 at or above (the measured scale
    setting). The derivation costs one count() job at plan-build time —
    a REAL column-pruned scan of ``docs`` (Spark only answers a bare
    parquet count from footer metadata when no filter intervenes, and
    callers routinely pass a filtered frame), so at 100 TB pass an
    explicit band_rows (or derive one from catalog row counts) instead
    of paying a corpus scan per plan build (VERDICT r13 item 5). Note
    the derived value steps 2→4 exactly at 10k docs: verified-pair
    output is deliberately not monotone in corpus size across that
    boundary — reproducibility-sensitive callers near it should pin
    band_rows explicitly (ADVICE r13)."""
    if band_rows is None:
        band_rows = derive_band_rows(docs.count())
    sigs = minhash_signatures(docs, n_hashes)
    cands = lsh_candidate_pairs(sigs, n_hashes, band_rows)
    # three consumers (sizes + both exact-verify sides): tokenize once
    toks = managed_persist(doc_tokens(docs))
    return _jaccard_filter(_candidate_shared(cands, toks), toks, tau)


def simhash(docs: DataFrame, n_bits: int = 63) -> DataFrame:
    """63-bit SimHash fingerprint (bit 63 unused — a 64-bit pack would
    overflow signed long under ANSI). Per bit, sum of ±1 votes from each
    token's xxhash64; bit set iff the vote is positive.

    Shape: ZERO-shuffle since round-4 — a document's token set is
    row-local, so the hash array builds with array_distinct + transform
    in a projection and the bit loops run as higher-order folds over
    it. The round-3 shape exploded tokens and re-grouped them
    (groupBy(doc_id) collect_list), shuffling every token of the corpus
    just to reassemble what the row already had; output is
    bit-identical (the vote sum is order-independent).

    The hash array sits behind a `hofbarrier.barrier` so the per-bit
    folds reference it instead of re-hashing once per bit (the 63x
    hazard that module records).

    Null-text docs are dropped up front (same contract as
    minhash_signatures: no token set → no fingerprint; the round-3
    explode shape never emitted rows for them either)."""
    agg = barrier(docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.transform(
            _token_set(F.col("text")),
            lambda t: F.xxhash64(t),
        ).alias("hs"),
    ))
    bits = F.sequence(F.lit(0), F.lit(n_bits - 1))
    # shiftright/shiftleft via call_function: the Python wrappers require
    # literal shift amounts, the SQL functions accept column expressions
    votes = F.transform(
        bits,
        lambda b: F.aggregate(
            F.col("hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (
                F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)) * 2
                - 1
            ).cast("long"),
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            votes,
            bits,
            lambda v, b: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return agg.select("doc_id", packed.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Near-dup test between two SimHash fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Declared queries
# ---------------------------------------------------------------------------


@register(
    "q_dedup_text",
    oracle="""
    SELECT text, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-LLM-1: exact dedup with a deterministic survivor (min doc_id),
    not dropDuplicates' arbitrary row."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "q_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < {DOC_CAP}
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
    FROM shared
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE round(c * 1.0 / (s1.n + s2.n - c), 6) >= {JACCARD_TAU}
    """,
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-LLM-2 on a bounded candidate set (doc_id < 500 keeps the
    quadratic rung scale-stable across sf dirs)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < DOC_CAP)
    return exact_jaccard_pairs(docs, JACCARD_TAU)


@register(
    "q_ngram_jaccard",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' '
                        || string_split(text, ' ')[i + 1]))) AS tok
        FROM documents WHERE doc_id < {DOC_CAP}
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        FROM grams a JOIN grams b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
    FROM shared
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE round(c * 1.0 / (s1.n + s2.n - c), 6) >= 0.2
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-shingle Jaccard (τ=0.2 — phrase overlap is much rarer
    than vocabulary overlap, so the threshold sits lower than the
    unigram rung's 0.8)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < DOC_CAP)
    return ngram_jaccard_pairs(docs, 0.2, n=2)


@register("q_minhash_lsh", oracle=None)  # WEAK: xxhash64 has no DuckDB analog
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-LLM-3: the scale path. Property test (tests/test_llm.py)
    measures recall against q_jaccard_pairs on the same corpus.

    band_rows is pinned explicitly: the DOC_CAP filter bounds this
    corpus at 500 docs — statically below BAND_ROWS_WIDEN_DOCS, so the
    derivation could only ever return BAND_ROWS — and passing it skips
    the derivation's plan-build count() scan (one whole Spark job
    inside the measured query; VERDICT r13 item 5 / ADVICE r13). The
    default-derivation path stays covered by unit tests."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < DOC_CAP)
    return minhash_lsh_pairs(docs, JACCARD_TAU, band_rows=BAND_ROWS)


@register("q_simhash", oracle=None)  # WEAK: engine-specific hash values
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return simhash(docs)


def jaccard_pairs_prefix(docs: DataFrame, tau: float) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    candidate generation) — same output as exact_jaccard_pairs, far
    fewer candidates.

    Tokens get a global rarity order (ascending document frequency,
    token tiebreak); each doc keeps only its first
    ``n - ceil(tau*n) + 1`` tokens as its prefix. For any pair with
    J >= tau the globally-smallest common token provably falls in BOTH
    prefixes (if it missed A's prefix, all common tokens would sit in
    A's suffix of size ceil(tau*n)-1 < tau*|A| <= |A∩B|), so the
    prefix-prefix join is complete. Exact verification then runs only
    on surviving candidates. At 100 TB this is the difference between
    joining on every token occurrence and joining on the rare tail —
    the inverted-index rung's hot tokens (stopwords) never generate
    candidates here because they sort to the END of the order."""
    # the token relation feeds five consumers (sizes, document
    # frequencies, the prefix pass, both exact-verify sides); persist
    # so tokenization runs once — a PPJoin implementation materializes
    # its tokenized relation, it doesn't re-tokenize per index pass
    toks = managed_persist(doc_tokens(docs))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    # both sides of the candidate self-join read the prefix; unpersisted,
    # the rarity-order window pass runs twice
    prefix = managed_persist(
        toks.join(freq, "tok")
        .join(sizes, "doc_id")
        .withColumn("r", F.row_number().over(w))
        .filter(
            F.col("r") <= F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + 1
        )
        .select("doc_id", "tok")
    )
    a = prefix.select(F.col("doc_id").alias("d1"), "tok")
    b = prefix.select(F.col("doc_id").alias("d2"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    return _jaccard_filter(_candidate_shared(cand, toks), toks, tau)


@register(
    "q_jaccard_prefix",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < {DOC_CAP}
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
    FROM shared
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE round(c * 1.0 / (s1.n + s2.n - c), 6) >= {JACCARD_TAU}
    """,
)
def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-LLM-2 scale algorithm: prefix-filtered exact Jaccard — the
    oracle is the brute-force inverted-index SQL, proving the filter
    loses nothing while generating a fraction of the candidates
    (asserted in tests/test_llm.py)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < DOC_CAP)
    return jaccard_pairs_prefix(docs, JACCARD_TAU)
