"""Deduplication operators for LLM training-data pipelines (SURVEY.md §2B).

Four tiers, each the idiomatic Spark shape for its scale:

  * exact          — hash-groupBy on normalized text (sha2 inside codegen)
  * n-gram Jaccard — exact near-dup: rare-shingle inverted index join
  * MinHash + LSH  — approximate near-dup: banded signature bucket join
  * SimHash        — near-dup via Hamming-close bit signatures

Scale notes: the inverted-index and LSH shapes replace the O(n²) pairwise
compare with joins whose fan-out is controlled explicitly (doc-frequency cap
/ band width). That is the 100 TB design: candidate generation is a few
shuffles on short keys; verification touches only candidate pairs. All
hashing is deterministic (xxhash64 with fixed seed; no RNG), so reruns and
resized clusters produce identical output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import oracle_words, words
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

# Shingles occurring in more than this many docs carry no near-dup signal
# (they are the corpus' stop-phrases) and explode the candidate join —
# pruned identically in the oracle, so semantics match by construction.
_DF_CAP = 20
_JACCARD_THRESHOLD = 0.5

# MinHash parameters: 32 permutations in 8 bands of 4 → catches pairs with
# J ≳ 0.5 with high probability (p = 1-(1-J^4)^8).
_N_PERM = 32
_BAND_SIZE = 4
# Minhash permutation modulus: the Mersenne prime 2^31-1. The family is
# h_i(x) = (a_i * (x mod p) + b_i) mod p with a_i, b_i < p, so every
# intermediate fits in 62 bits — no long overflow under ANSI mode (the
# driver's plain SparkSession runs Spark 4 defaults, where overflow is an
# ERROR, not a wrap; a 2^61 modulus would need the wraparound).
_MERSENNE = (1 << 31) - 1


def _shingles(words_col, n: int = 3):
    """Word n-gram shingles as an array column (codegen, no UDF)."""
    return F.expr(
        f"""
        CASE WHEN size({words_col}) >= {n}
        THEN transform(
               sequence(0, size({words_col}) - {n}),
               i -> concat_ws(' ', slice({words_col}, i + 1, {n})))
        ELSE array(concat_ws(' ', {words_col})) END
        """
    )


@query(
    "dedup_exact",
    oracle="""
    WITH hashed AS (
      SELECT
        doc_id,
        source,
        sha256(lower(trim(text))) AS text_hash
      FROM documents
    ), winners AS (
      SELECT text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS dup_count
      FROM hashed GROUP BY text_hash
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_unique,
      CAST(SUM(dup_count) AS BIGINT) AS n_total,
      CAST(SUM(dup_count) - COUNT(*) AS BIGINT) AS n_removed,
      CAST(MIN(keep_doc_id) AS BIGINT) AS first_keeper
    FROM winners
    """,
    tags=("llm", "dedup"),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text hash: sha2(lower(trim(text))), keep the
    min doc_id per hash.

    One shuffle on a 64-hex-char key; at 100 TB hash first (256-bit → no
    practical collisions) so the shuffle never carries document bodies.
    """
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_hash"),
    )
    winners = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    return winners.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("dup_count").cast("long").alias("n_total"),
        (F.sum("dup_count") - F.count(F.lit(1))).cast("long").alias("n_removed"),
        F.min("keep_doc_id").cast("long").alias("first_keeper"),
    )


# The rare-shingle pair index, oracle side: word 3-shingles per doc, the
# postings of shingles in at most _DF_CAP docs, and one row per doc pair
# sharing any of them, (doc_a, doc_b, n_inter, n_a, n_b) with n_a/n_b the
# rare-shingle set sizes. Ends in the ``rare_pairs`` CTE; a query appends
# its own CTEs and final SELECT. The Spark twin is :func:`_rare_pairs`.
_RARE_PAIRS_CTE = f"""
    WITH words AS (
      SELECT doc_id, {oracle_words()} AS w
      FROM documents
    ), pos AS (
      SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS p
      FROM words
    ), sh AS (
      SELECT DISTINCT a.doc_id,
             a.word || ' ' || b.word || ' ' || c.word AS shingle
      FROM pos a
      JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
    ), rare AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_DF_CAP}
    ), rs AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM rs GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM rs x JOIN rs y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    ), rare_pairs AS (
      SELECT i.doc_a, i.doc_b, i.n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    )"""


def _rare_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rare-shingle pair index: (doc_a, doc_b, n_inter, n_a, n_b) for
    every doc pair (doc_a < doc_b) sharing a shingle that occurs in at most
    _DF_CAP docs; n_inter counts the shared rare shingles and n_a/n_b are
    each doc's rare-shingle set size.

    Pipeline: word 3-shingles per doc (codegen transform, no UDF) → distinct
    postings → drop shingles with doc-frequency > _DF_CAP (stop-phrases add
    no signal and square the join fan-out) → self-join postings on shingle
    → per-pair intersection counts → both set sizes. The only quadratic
    term is per-shingle df², capped at _DF_CAP² — candidate volume grows
    linearly with corpus size. Oracle twin: ``_RARE_PAIRS_CTE``.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", words().alias("w"))
        .select("doc_id", F.explode(_shingles("w")).alias("shingle"))
        .distinct()
    )
    sh.cache()  # consumed by the df-cap build AND the postings join
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _DF_CAP)
        .select("shingle")
    )
    # Postings consumed three times (sizes + both pair sides) — cached so
    # the rare join runs once instead of once per consumer.
    rs = sh.join(rare, "shingle").cache()
    sizes = rs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    x = rs.alias("x")
    y = rs.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.col("sa.n_sh").alias("n_a"),
            F.col("sb.n_sh").alias("n_b"),
        )
    )


# Complete SELECT yielding (doc_a, doc_b, jaccard) near-dup pairs — the
# dedup_ngram_jaccard oracle, and reusable as a subquery by downstream
# oracles (duplicate-cluster connected components in operators/pipeline.py).
NEAR_DUP_PAIRS_SQL = _RARE_PAIRS_CTE + f"""
    SELECT
      doc_a, doc_b,
      CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
    FROM rare_pairs
    WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter)
          >= {_JACCARD_THRESHOLD}
"""


@query(
    "dedup_ngram_jaccard",
    oracle=NEAR_DUP_PAIRS_SQL,
    tags=("llm", "dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: Jaccard over the rare-shingle
    sets of every pair in the rare-shingle pair index (:func:`_rare_pairs`).
    Integer counts and one double division keep it bit-deterministic.
    """
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        _rare_pairs(spark, sf_dir)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


def _minhash_signature(df: DataFrame, id_col: str, shingles_col: str) -> DataFrame:
    """doc (with shingle ARRAY column) → array of _N_PERM minhash values.

    h_i(s) = (a_i * (xxhash64(s) mod p) + b_i) mod p over the Mersenne
    prime p = 2^31-1, with fixed coefficients derived from the permutation
    index — deterministic, no RNG, and every intermediate fits in 62 bits
    so the arithmetic is ANSI-overflow-safe. The whole
    signature is computed per-row inside codegen (hash the shingle array
    once, then _N_PERM array_min-of-transform folds): ZERO shuffles — the
    map-side cost is O(|shingles|·perms) arithmetic, and at 100 TB the
    signature stage is pure scan parallelism.
    """
    # The 32-permutation expression tree is assembled as ONE SQL string
    # (a single parse JVM-side) rather than ~400 py4j Column calls — the
    # Catalyst plan is identical (array of array_min-of-transform folds),
    # but DataFrame construction drops from ~0.6 s to ~0.05 s of driver
    # time (measured, round 14 — plan build was half this query's bench
    # wall).
    hashed = df.select(
        id_col,
        F.expr(
            f"transform({shingles_col},"
            f" s -> pmod(xxhash64(s), {_MERSENNE}L))"
        ).alias("hs"),
    )
    perms = []
    for i in range(_N_PERM):
        a = (73856093 * (i + 1) + 19349663) % _MERSENNE or 1
        b = (83492791 * (i + 1) + 104729) % _MERSENNE
        # h already lies in [0, p); a, b < p ⇒ a*h + b < 2^62: no overflow.
        perms.append(
            f"array_min(transform(hs, h -> pmod(h * {a}L + {b}L,"
            f" {_MERSENNE}L)))"
        )
    return hashed.select(
        id_col, F.expr("array(" + ", ".join(perms) + ")").alias("sig")
    )


def _bands_sql(sig_col: str = "sig") -> str:
    """The 8×4 banded bucket keys as one SQL array-of-structs expression
    (same single-parse rationale as the signature above)."""
    items = []
    for bi in range(_N_PERM // _BAND_SIZE):
        cols = ", ".join(
            f"{sig_col}[{bi * _BAND_SIZE + j}]" for j in range(_BAND_SIZE)
        )
        items.append(f"struct({bi} AS band, xxhash64({cols}) AS bh)")
    return "array(" + ", ".join(items) + ")"


@query(
    "dedup_minhash_lsh",
    oracle=None,  # hash-family specific → rows-only here; recall vs the
    # exact-jaccard operator is asserted in tests/test_operators.py.
    tags=("llm", "dedup", "minhash", "lsh"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup candidates with estimated Jaccard.

    shingle → xxhash64 → 32 deterministic permutations → per-doc min
    (signature) → 8 bands of 4 hashes → bucket-join on (band, band-hash) →
    candidate pairs → estimated J = fraction of equal signature positions.

    Scale: signatures are 32 longs per doc regardless of doc length; the
    bucket join only pairs docs agreeing on a full band. This is the shape
    that near-dups 100 TB of text — no pairwise scan, bounded bucket sizes,
    deterministic output (reruns identical).

    Widen: the signature build (32 permutation passes per shingle array)
    is by far the heaviest map work in the registry, and it runs entirely
    before the first exchange — on an undersplit scan (the testdata's
    single-row-group files) it single-threads. Filling scan parallelism
    costs one tiny doc-row shuffle and cut the sf0.1 bench 2.0s → 1.13s;
    on real multi-split data the condition never fires.
    """
    d = load_table(
        spark, sf_dir, "documents", widen=True, columns=("doc_id", "text")
    )
    docs = d.select("doc_id", words().alias("w")).select(
        "doc_id", F.array_distinct(_shingles("w")).alias("shingles")
    )
    sig = _minhash_signature(docs, "doc_id", "shingles").cache()

    bands = sig.select(
        "doc_id", F.explode(F.expr(_bands_sql())).alias("b")
    ).select("doc_id", "b.band", "b.bh")

    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sa = sig.alias("sa")
    sb = sig.alias("sb")
    est = (
        F.expr(
            "size(filter(zip_with(sa.sig, sb.sig, (p, q) -> p = q),"
            " eq -> eq))"
        ).cast("double")
        / _N_PERM
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= _JACCARD_THRESHOLD)
    )


@query(
    "dedup_simhash",
    oracle=None,  # depends on xxhash64 bit patterns → rows-only.
    tags=("llm", "dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit signed-sum signature over word hashes,
    candidates = docs sharing a 16-bit half, verified by Hamming distance.

    Per doc: bit_j = sign( Σ_words ±1 by bit_j(xxhash64(word)) ). Near-dups
    differ in few bits; splitting the signature into 2 halves guarantees any
    pair within Hamming distance 1 shares at least one exact half
    (pigeonhole) — the bucket join then only verifies those.

    Scale: signature is one int per doc; the half-join is two equi-joins on
    16-bit keys. The full 64-bit/4-band production variant is the same plan.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words()).alias("word")).withColumn(
        "h", F.xxhash64("word")
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s_{j}")
        for j in range(32)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_aggs)
    simhash = sums.select(
        "doc_id",
        sum(
            (F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)))
            for j in range(32)
        ).alias("simhash"),
    ).cache()

    halves = simhash.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("half"),
                    (F.col("simhash").bitwiseAND(F.lit(0xFFFF))).alias("hv"),
                ),
                F.struct(
                    F.lit(1).alias("half"),
                    F.shiftrightunsigned(F.col("simhash"), 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("hv"),
                ),
            )
        ).alias("hb"),
    ).select("doc_id", "simhash", "hb.half", "hb.hv")

    x = halves.alias("x")
    y = halves.alias("y")
    hamming = F.bit_count(
        F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    )
    return (
        x.join(
            y,
            (F.col("x.half") == F.col("y.half"))
            & (F.col("x.hv") == F.col("y.hv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.alias("hamming_dist"),
        )
        .distinct()
        .filter(F.col("hamming_dist") <= 1)
    )


_CONTAIN_T = 0.6  # containment threshold: fraction of the SMALLER doc's
# rare shingles that must appear in the other doc


@query(
    "dedup_containment",
    oracle=_RARE_PAIRS_CTE + f"""
    , scored AS (
      SELECT
        doc_a, doc_b,
        CAST(n_inter AS DOUBLE) / n_a AS contain_a_in_b,
        CAST(n_inter AS DOUBLE) / n_b AS contain_b_in_a,
        CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
      FROM rare_pairs
    )
    SELECT doc_a, doc_b, contain_a_in_b, contain_b_in_a, jaccard
    FROM scored
    WHERE GREATEST(contain_a_in_b, contain_b_in_a) >= {_CONTAIN_T}
    """,
    tags=("llm", "dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment: |A∩B| / min(|A|,|B|)-side coverage,
    the signal Jaccard misses — a short document wholly embedded in a long
    one (boilerplate reuse, quote inflation, page concatenation) scores
    near 1.0 on containment while its Jaccard stays arbitrarily low.

    Same rare-shingle pair index as dedup_ngram_jaccard (one extra pair of
    divisions), so the scale properties carry over unchanged: candidate
    volume is bounded by the df-cap and grows linearly with the corpus.
    Reported with both directional containments plus Jaccard so downstream
    policy can distinguish "a inside b" from "b inside a".
    """
    n_inter = F.col("n_inter").cast("double")
    scored = _rare_pairs(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        (n_inter / F.col("n_a")).alias("contain_a_in_b"),
        (n_inter / F.col("n_b")).alias("contain_b_in_a"),
        (n_inter / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias(
            "jaccard"
        ),
    )
    return scored.filter(
        F.greatest(F.col("contain_a_in_b"), F.col("contain_b_in_a"))
        >= _CONTAIN_T
    )


# Fuzzy (edit-distance) dedup: word-count band width for candidate
# blocking, and the relative edit-distance threshold 1/_LEV_REL_DEN
# (integer-exact compare: _LEV_REL_DEN * lev <= max_chars).
_LEV_BAND = 4
_LEV_REL_DEN = 5  # lev/max_chars <= 20%


@query(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, text,
             len({oracle_words()})
               AS n_words
      FROM documents
    ), bucketed AS (
      SELECT doc_id, lang, text, n_words,
             unnest([n_words // {_LEV_BAND},
                     n_words // {_LEV_BAND} + 1]) AS bucket
      FROM base
    ), cand AS (
      SELECT DISTINCT
        a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        a.text AS text_a, b.text AS text_b
      FROM bucketed a JOIN bucketed b
        ON a.lang = b.lang AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
       AND abs(a.n_words - b.n_words) <= {_LEV_BAND}
    )
    SELECT doc_id_a, doc_id_b, edit_distance, max_chars
    FROM (
      SELECT
        doc_id_a, doc_id_b,
        CAST(levenshtein(text_a, text_b) AS BIGINT) AS edit_distance,
        CAST(greatest(length(text_a), length(text_b)) AS BIGINT)
          AS max_chars
      FROM cand
    )
    WHERE {_LEV_REL_DEN} * edit_distance <= max_chars
    """,
    tags=("llm", "dedup", "fuzzy", "levenshtein"),
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by EXACT edit distance over blocked
    candidates: pairs in the same language whose word counts differ by
    ≤ 4 and whose Levenshtein distance is ≤ 20% of the longer text.
    Complements the set-based detectors (Jaccard/MinHash ignore token
    ORDER; edit distance catches small in-place rewrites and is the
    classic fuzzy-match semantics for titles/names).

    Spark shape: each doc emits its word-count bucket floor(n/4) AND
    floor(n/4)+1, candidates come from an EQUI-join on (lang, bucket) —
    any pair with |Δn| ≤ 4 is guaranteed to share a bucket, so the band
    predicate costs one hash join on a short key, never a theta join or
    an O(n²) compare. The quadratic levenshtein DP runs only on
    candidate pairs (bounded per block), JVM-side via
    ``F.levenshtein`` — both engines implement the standard
    Wagner-Fischer distance, so the oracle is exact. The 20% threshold
    compares as ``5·lev ≤ max_chars`` — pure integers, no float
    boundary. At 100 TB: candidates scale with block occupancy (docs
    per (lang, 4-word band)), the knob is the band width.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", "text", F.size(words()).alias("n_words")
    )
    bucketed = base.select(
        "doc_id",
        "lang",
        "text",
        "n_words",
        F.explode(
            F.array(
                F.floor(F.col("n_words") / _LEV_BAND),
                F.floor(F.col("n_words") / _LEV_BAND) + 1,
            )
        ).alias("bucket"),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.lang") == F.col("b.lang"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.doc_id") < F.col("b.doc_id"),
                F.abs(F.col("a.n_words") - F.col("b.n_words")) <= _LEV_BAND,
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.text").alias("text_a"),
            F.col("b.text").alias("text_b"),
        )
        .distinct()
    )
    lev = F.levenshtein("text_a", "text_b")
    return cand.filter(
        F.lit(_LEV_REL_DEN) * lev
        <= F.greatest(F.length("text_a"), F.length("text_b"))
    ).select(
        "doc_id_a",
        "doc_id_b",
        lev.cast("long").alias("edit_distance"),
        F.greatest(F.length("text_a"), F.length("text_b"))
        .cast("long")
        .alias("max_chars"),
    )


# Exact duplicated-substring detection (the "dedup makes LMs better"
# operator): a position's K-token shingle is "duplicated" when the same
# shingle occurs anywhere else in the corpus (any doc, including self-
# repeats); overlapping duplicated positions merge into maximal spans.
_SUB_K = 8


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             {oracle_words()} AS w
      FROM documents
    ), pos AS (
      SELECT doc_id, len(w) AS n_tokens, i.i AS p,
             md5(array_to_string(w[i.i + 1:i.i + {_SUB_K}], ' ')) AS fp
      FROM words, (SELECT unnest(generate_series(0, 100000)) AS i) i
      WHERE i.i <= len(w) - {_SUB_K}
    ), fpc AS (
      SELECT fp FROM pos GROUP BY fp HAVING COUNT(*) > 1
    ), duppos AS (
      SELECT pos.doc_id, pos.n_tokens, pos.p
      FROM pos JOIN fpc ON pos.fp = fpc.fp
    ), flagged AS (
      SELECT doc_id, n_tokens, p,
             CASE WHEN p > COALESCE(LAG(p) OVER (PARTITION BY doc_id ORDER BY p),
                                    -1000000) + {_SUB_K} - 1
                  THEN 1 ELSE 0 END AS new_span
      FROM duppos
    ), spans AS (
      SELECT doc_id, n_tokens,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS UNBOUNDED PRECEDING) AS span_id, p
      FROM flagged
    ), merged AS (
      SELECT doc_id, n_tokens, span_id,
             MAX(p) - MIN(p) + {_SUB_K} AS span_len
      FROM spans GROUP BY doc_id, n_tokens, span_id
    )
    SELECT
      doc_id,
      CAST(n_tokens AS BIGINT) AS n_tokens,
      CAST(COUNT(*) AS BIGINT) AS n_spans,
      CAST(SUM(span_len) AS BIGINT) AS dup_tokens
    FROM merged
    GROUP BY doc_id, n_tokens
    """,
    tags=("llm", "dedup", "substring"),
    bench=True,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans — the corpus-level substring dedup
    from "Deduplicating Training Data Makes Language Models Better": every
    position whose {K}-token shingle recurs ANYWHERE in the corpus is
    duplicated, and overlapping duplicated positions merge into maximal
    spans (the text you would cut before training).

    Distributed shape (a suffix array does not distribute; rolling
    fingerprints do): positional shingles are generated MAP-SIDE from the
    token array (sequence + transform + explode — no window, no self-
    join), one shuffle groups the 32-hex fingerprints to find recurring
    ones, the positions join back on the same key, and the interval merge
    is a per-doc window (lag-gap → span id → span extents). Shuffles carry
    fingerprints and integer positions — never text bodies.

    Everything is exact integers, so per-doc span counts and duplicated-
    token totals hash-match the oracle.

    Widen (round 13): the positional shingle generation (tokenize + K-slice
    + xxhash64 per position) runs below the fingerprint shuffle — on an
    undersplit single-row-group scan it single-threads; filling scan
    parallelism cut the sf0.1 bench 1.7s → 1.02s (no-op on multi-split
    data).
    """
    d = load_table(
        spark, sf_dir, "documents", widen=True, columns=("doc_id", "text")
    )
    w = words("text")
    base = d.select("doc_id", w.alias("w"), F.size(w).alias("n_tokens")).filter(
        F.col("n_tokens") >= _SUB_K
    )
    shingles = F.transform(
        F.sequence(F.lit(0), F.col("n_tokens") - _SUB_K),
        lambda i: F.struct(
            i.alias("p"),
            # xxhash64, not md5: the fingerprint only carries shingle
            # EQUALITY into the recurrence groupBy, so an 8-byte long does
            # the job of the 32-hex digest at ~4x less shuffle volume and
            # a fraction of the hash cost (md5 is a cryptographic
            # permutation; xxhash64 is a few multiplies per word). A
            # 64-bit collision among ~|distinct shingles| values has
            # probability ~n^2/2^65 (~1e-7 at sf0.1) and the check is
            # deterministic per dataset either way.
            F.xxhash64(
                F.array_join(F.slice(F.col("w"), i + 1, _SUB_K), " ")
            ).alias("fp"),
        ),
    )
    pos = base.select(
        "doc_id", "n_tokens", F.explode(shingles).alias("s")
    ).select("doc_id", "n_tokens", F.col("s.p").alias("p"), F.col("s.fp").alias("fp"))
    fpc = pos.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") > 1
    )
    duppos = pos.join(fpc.select("fp"), "fp").select("doc_id", "n_tokens", "p")
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    flagged = duppos.withColumn(
        "new_span",
        F.when(
            F.col("p")
            > F.coalesce(F.lag("p").over(wdoc), F.lit(-1000000)) + _SUB_K - 1,
            1,
        ).otherwise(0),
    )
    spans = flagged.withColumn(
        "span_id",
        F.sum("new_span").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = spans.groupBy("doc_id", "n_tokens", "span_id").agg(
        (F.max("p") - F.min("p") + _SUB_K).alias("span_len")
    )
    return merged.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").cast("long").alias("dup_tokens"),
    ).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_spans",
        "dup_tokens",
    )


_TRGM_NUM, _TRGM_DEN = 4, 10  # similarity threshold 0.4 as a ratio


@query(
    "dedup_trigram_similarity",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey, p_brand, p_size, p_name,
             list_distinct(list_transform(
               generate_series(1, length(p_name) - 2),
               i -> substr(p_name, i, 3))) AS tg
      FROM part
    ), pairs AS (
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             a.p_name AS name_a, b.p_name AS name_b,
             len(list_intersect(a.tg, b.tg)) AS n_inter,
             len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg)) AS n_union
      FROM t a JOIN t b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
    )
    SELECT key_a, key_b, name_a, name_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_union AS BIGINT) AS n_union
    FROM pairs
    WHERE n_inter * {_TRGM_DEN} >= n_union * {_TRGM_NUM}
    """,
    tags=("llm", "dedup", "fuzzy", "trigram"),
)
def dedup_trigram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-set similarity — the OTHER fuzzy-matching primitive beside
    edit distance (`dedup_fuzzy_levenshtein`): pg_trgm's indexable measure
    |trigrams∩| / |trigrams∪|, which unlike Levenshtein decomposes into
    set operations a posting index can serve. Near-identical part names
    within a (brand, size) block pair up at similarity ≥ {n}/{d}.

    Trigram sets build in codegen (sequence + transform + distinct — no
    explode), candidate pairs come from the same equi-join blocking as
    the Levenshtein variant, and the threshold is the integer
    cross-multiplication n_inter·{d} ≥ n_union·{n} — set sizes are exact
    integers so the pair list hash-matches.
    """
    p = load_table(spark, sf_dir, "part")
    tg = F.array_distinct(
        F.expr(
            "transform(sequence(1, length(p_name) - 2),"
            " i -> substring(p_name, i, 3))"
        )
    )
    t = p.select("p_partkey", "p_brand", "p_size", "p_name", tg.alias("tg"))
    a = t.alias("a")
    b = t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tg"), F.col("b.tg")))
    uni = F.size(F.col("a.tg")) + F.size(F.col("b.tg")) - inter
    pairs = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            inter.cast("long").alias("n_inter"),
            uni.cast("long").alias("n_union"),
        )
    )
    return pairs.filter(
        F.col("n_inter") * _TRGM_DEN >= F.col("n_union") * _TRGM_NUM
    )


@query(
    "dedup_minhash_oph",
    oracle=None,  # hash-family specific → rows-only; recall vs the exact
    # Jaccard operator is asserted in tests/test_operators.py.
    tags=("llm", "dedup", "minhash", "oph", "lsh"),
    bench=True,
)
def dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-Permutation-Hashing MinHash + banded LSH — the signature build
    that actually scales to 100 TB of text.

    Classic MinHash (``dedup_minhash_lsh``) evaluates _N_PERM = 32
    permutations per shingle: each permutation pass rewrites the whole
    hash array (multiply + add + mod + a fresh array allocation) before
    taking its min — O(32 · Σ|shingles|) arithmetic AND allocation. OPH
    (Li, Owen, Zhang, NIPS 2012) hashes each shingle ONCE and routes it to
    slot ``h % 32``, keeping the per-slot min: the 32 slot passes are
    ``array_min(filter(...))`` — a mod + compare per element, no permuted
    array materialized — so the corpus pass does ~1/32nd the allocation
    and a fraction of the arithmetic (signature pass measured 2.0s vs the
    classic's 2.7s at sf0.1 warm; cold end-to-end 2.8s vs 3.7s — and the
    gap widens with shingle volume since both run scan-bound on one
    split here). Empty slots are filled by rotation
    densification (Shrivastava & Li, ICML 2014): slot i borrows the value
    of the nearest populated slot to its right (cyclically), offset by
    t · 2^31 per step so borrowed values never collide with genuine mins
    from a different distance — preserving the per-slot collision
    probability ≈ J that banding and estimation rely on.

    Plan shape: the ENTIRE signature (hash → 32 slot mins → densify) is
    per-row inside whole-stage codegen — ZERO shuffles touch the corpus
    (plan-tested); the first exchange in the query carries 32-long
    signatures into the same 8×4 banded bucket join as the classic
    operator. (The explode+groupBy formulation — one conditional-min
    shuffle — was measured 3× SLOWER here: row explosion and a 32-expr
    hash-agg update beat the savings. On a cluster it remains the fallback
    only if single-doc shingle arrays outgrow a task's memory.)

    Determinism: xxhash64 and the rotation fill are deterministic — reruns
    and both engines' row orders produce identical candidate sets (rows-only
    check: DuckDB has no xxhash64).

    Widen (round 13): same undersplit-scan fix as dedup_minhash_lsh — the
    per-row signature pass single-threads on a single-row-group scan, so
    scan parallelism is filled first (one raw doc-row round-robin exchange
    BELOW the signature projection; no keyed shuffle of the corpus exists
    anywhere). sf0.1 bench 1.6s → 1.07s; a no-op on real multi-split data.
    """
    k = _N_PERM
    d = load_table(
        spark, sf_dir, "documents", widen=True, columns=("doc_id", "text")
    )
    docs = d.select("doc_id", words().alias("w")).select(
        "doc_id", F.array_distinct(_shingles("w")).alias("shingles")
    )
    # Slot-min expressions as ONE SQL string — same Catalyst tree, one
    # py4j round trip instead of ~100 (the _minhash_signature rationale).
    hashed = docs.selectExpr(
        "doc_id",
        f"transform(shingles, s -> pmod(xxhash64(s), {_MERSENNE}L)) AS hs",
    )
    raw_sig = hashed.selectExpr(
        "doc_id",
        "array("
        + ", ".join(
            f"array_min(filter(hs, h -> h % {k} = {i}))" for i in range(k)
        )
        + ") AS rsig",
    )
    # Rotation densification: for slot i take the first non-null at
    # cyclic offset t (t=0 is the slot itself), biased by t * 2^31 —
    # values are < 2^31, offsets reach at most 31 * 2^31 < 2^36, so the
    # arithmetic is ANSI-overflow-safe. Every doc has >= 1 shingle
    # (whole-doc fallback in _shingles), so some slot is always populated.
    sig = raw_sig.select(
        "doc_id",
        F.expr(
            f"""
            transform(sequence(0, {k - 1}), i ->
              aggregate(
                sequence(0, {k - 1}),
                CAST(NULL AS BIGINT),
                (acc, t) -> CASE
                  WHEN acc IS NOT NULL THEN acc
                  WHEN element_at(rsig, pmod(i + t, {k}) + 1) IS NOT NULL
                  THEN element_at(rsig, pmod(i + t, {k}) + 1)
                       + CAST(t AS BIGINT) * {1 << 31}
                  ELSE NULL END))
            """
        ).alias("sig"),
    ).cache()  # 3 consumers (bands, sa, sb) — same policy as the classic op

    bands = sig.select(
        "doc_id", F.explode(F.expr(_bands_sql())).alias("b")
    ).select("doc_id", "b.band", "b.bh")

    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sa = sig.alias("sa")
    sb = sig.alias("sb")
    est = (
        F.expr(
            "size(filter(zip_with(sa.sig, sb.sig, (p, q) -> p = q),"
            " eq -> eq))"
        ).cast("double")
        / k
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= _JACCARD_THRESHOLD)
    )


_PARA_W = 10  # paragraph analog: non-overlapping 10-word chunks


@query(
    "dedup_paragraph_exact",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             {oracle_words()} AS ws
      FROM documents
    ), ti AS (
      -- len >= 1 gate: DuckDB's integer // TRUNCATES toward zero, so an
      -- empty doc's (0-1)//W is 0 (not -1) and generate_series(0, 0)
      -- would emit one phantom empty chunk per empty doc.
      SELECT doc_id, source, ws,
             unnest(generate_series(0, (len(ws) - 1) // {_PARA_W})) AS i
      FROM t WHERE len(ws) >= 1
    ), c AS (
      SELECT doc_id, source, i AS idx,
             array_to_string(
               ws[i * {_PARA_W} + 1 : i * {_PARA_W} + {_PARA_W}], ' ')
               AS chunk,
             len(ws[i * {_PARA_W} + 1 : i * {_PARA_W} + {_PARA_W}])
               AS n_tok
      FROM ti
    ), r AS (
      SELECT source, n_tok,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, idx) AS rn
      FROM c
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dup_removed,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE rn = 1), 0) AS BIGINT)
             AS kept_tokens,
           CAST(COUNT(*) FILTER (WHERE rn > 1) * 1000000 // COUNT(*)
             AS BIGINT) AS dup_ppm
    FROM r GROUP BY source
    """,
    tags=("llm", "dedup", "paragraph", "exact"),
    bench=True,
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with REMOVAL accounting — the Dolma/C4
    recipe one granularity below document hashing (`dedup_exact`) and one
    above any-span matching (`dedup_substring_spans`): split every
    document into non-overlapping {_PARA_W}-word chunks (the paragraph
    analog for this corpus — real corpora split on newline), keep each
    distinct chunk's FIRST occurrence in global (doc_id, position) order,
    and report per source how many chunks were removed as duplicates and
    how many tokens the cleaned corpus retains.

    First-occurrence is a ROW_NUMBER over the chunk TEXT itself (no hash
    in the dedup key — bit-exact by construction; at 100 TB you'd key on
    xxhash64(chunk) and keep bodies out of the exchange, trading nothing
    but collision odds of ~2⁻⁶⁴); the (doc_id, idx) tiebreak is a total
    order, so the keep/remove decision is partition-invariant. All output
    columns are exact integers; the ppm rate is truncating division.

    Scale shape: chunking is map-side array arithmetic (sequence +
    slice — no self-join, no explode beyond the chunk stream itself);
    the only corpus-sized exchange is the ONE shuffle on the chunk key
    for first-occurrence ranking — identical budget to dedup_exact; the
    per-source rollup rides map-side combine. Chunk bodies cross the
    exchange here only because the oracle needs bit-exactness — the
    documented hash-key variant moves 8 bytes per chunk instead.
    """
    # NULL/empty docs must yield ZERO chunks on both engines (round-10
    # degenerate parity sweep): unguarded, Spark's sequence(0, -1) on a
    # 0/-1-sized ws emitted bogus descending-sequence chunks while
    # DuckDB's generate_series(0, -1) is empty — the text_chunk_sliding
    # gate applied here (coalesce the tokenizer, gate the sequence,
    # posexplode drops the NULL row).
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        words("text").alias("ws"),
    )
    chunks = d.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(ws) >= 1 THEN"
                f" transform(sequence(0, (size(ws) - 1) DIV {_PARA_W}),"
                f" i -> slice(ws, i * {_PARA_W} + 1, {_PARA_W})) END"
            )
        ).alias("idx", "chunk_ws"),
    ).select(
        "doc_id",
        "source",
        "idx",
        F.array_join("chunk_ws", " ").alias("chunk"),
        F.size("chunk_ws").alias("n_tok"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    ranked = chunks.select(
        "source", "n_tok", F.row_number().over(w).alias("rn")
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count(F.when(F.col("rn") > 1, 1)).cast("long").alias("n_dup_removed"),
        F.coalesce(F.sum(F.when(F.col("rn") == 1, F.col("n_tok"))), F.lit(0))
        .cast("long")
        .alias("kept_tokens"),
        F.expr("CAST(COUNT(IF(rn > 1, 1, NULL)) * 1000000 DIV COUNT(*) AS BIGINT)")
        .alias("dup_ppm"),
    )


@query(
    "dedup_lsh_tuning_curve",
    oracle=_RARE_PAIRS_CTE + f"""
    , hist AS (
      SELECT 20 * n_inter // (n_a + n_b - n_inter) AS bucket,
             COUNT(*) AS n_pairs
      FROM rare_pairs
      GROUP BY 1
    ), curve AS (
      SELECT bucket, n_pairs,
             CAST(CASE WHEN 2 * bucket + 1 > 40 THEN 40
                  ELSE 2 * bucket + 1 END AS DOUBLE) / 40.0 AS s
      FROM hist
    ), powed AS (
      SELECT bucket, n_pairs, s,
             (1.0 - s * s * s * s) AS u
      FROM curve
    )
    SELECT
      CAST(bucket AS BIGINT) AS sim_bucket,
      CAST(n_pairs AS BIGINT) AS n_pairs,
      1.0 - ((u * u) * (u * u)) * ((u * u) * (u * u)) AS p_candidate,
      CAST(n_pairs AS DOUBLE)
        * (1.0 - ((u * u) * (u * u)) * ((u * u) * (u * u)))
        AS expected_candidates
    FROM powed
    ORDER BY sim_bucket
    """,
    tags=("llm", "dedup", "lsh", "eval", "tuning"),
)
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding tuning curve — the chart every MinHash deployment is
    parameterized from: take THIS corpus' empirical candidate-pair
    Jaccard histogram (5-percentage-point buckets over the rare-shingle
    pairs) and overlay the analytic S-curve P(candidate | s) =
    1 − (1 − s^r)^b for the deployed banding (r = {_BAND_SIZE} rows ×
    b = {_N_PERM // _BAND_SIZE} bands), giving the expected candidate
    count per similarity level. Where `sim_recall_eval` grades an ANN
    index empirically, this grades the dedup banding analytically —
    against the corpus' own similarity profile, which is what decides
    whether b/r are right.

    Exactness: buckets are integer div of exact intersection/union
    counts; the S-curve avoids `pow` (libm, the `scalar_math` lesson) —
    s^4 and (…)^8 are explicit multiply chains, each IEEE
    correctly-rounded and sequenced identically in both engines, so the
    doubles hash bit-for-bit.

    Scale shape: the histogram rides the same rare-shingle postings join
    as `dedup_ngram_jaccard` (df-capped, linear candidate volume); the
    curve itself runs on ≤21 bucket rows.
    """
    hist = (
        _rare_pairs(spark, sf_dir)
        .select(F.expr("20 * n_inter DIV (n_a + n_b - n_inter)").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    powed = hist.select(
        "bucket",
        "n_pairs",
        F.expr(
            "1.0 - (CAST(CASE WHEN 2 * bucket + 1 > 40 THEN 40"
            " ELSE 2 * bucket + 1 END AS DOUBLE) / 40.0)"
            " * (CAST(CASE WHEN 2 * bucket + 1 > 40 THEN 40"
            " ELSE 2 * bucket + 1 END AS DOUBLE) / 40.0)"
            " * (CAST(CASE WHEN 2 * bucket + 1 > 40 THEN 40"
            " ELSE 2 * bucket + 1 END AS DOUBLE) / 40.0)"
            " * (CAST(CASE WHEN 2 * bucket + 1 > 40 THEN 40"
            " ELSE 2 * bucket + 1 END AS DOUBLE) / 40.0)"
        ).alias("u"),
    )
    return powed.select(
        F.col("bucket").cast("long").alias("sim_bucket"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.expr(
            "1.0 - ((u * u) * (u * u)) * ((u * u) * (u * u))"
        ).alias("p_candidate"),
        F.expr(
            "CAST(n_pairs AS DOUBLE)"
            " * (1.0 - ((u * u) * (u * u)) * ((u * u) * (u * u)))"
        ).alias("expected_candidates"),
    ).orderBy("sim_bucket")
