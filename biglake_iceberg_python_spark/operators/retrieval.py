"""Keyword + hybrid retrieval over the document corpus (SURVEY.md §2B [EXT]).

The missing piece between the text-analysis battery (``textstats.py``) and
the vector search family (``similarity.py``): classic BM25 keyword scoring
and reciprocal-rank-fusion of the keyword and vector rankings — the standard
hybrid-retrieval recipe for LLM data curation (finding documents relevant to
a topic before expensive model-based filtering).

100 TB design:
- BM25 needs two corpus passes and ZERO data-proportional shuffles: pass 1
  aggregates the corpus statistics (N, Σdl, per-term document frequency) into
  ONE row that is broadcast back; pass 2 computes each document's score
  map-side (term frequencies are array-filter counts inside codegen — the
  fixed query never requires an explode/shuffle on words) and a global top-k
  runs as TakeOrderedAndProject (per-partition heaps, k rows per partition
  cross the wire).
- Fusion joins two k-row ranked lists — broadcast by construction.

Determinism: per-term BM25 contributions are quantized to integer
micro-units BEFORE the per-document sum (the same order-independence fix
``text_lm_perplexity`` uses for log-prob sums), and RRF is pure integer
arithmetic over ranks, so both queries hash-match their DuckDB oracles
exactly with no tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    oracle_valid_embeddings,
    oracle_words,
    words,
)
from biglake_iceberg_python_spark.operators.similarity import (
    _dot,
    _valid_embeddings,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

# Fixed keyword query: one rare term (df ≈ 5% → high idf) and two common
# ones, so scores separate by which terms a document actually contains.
_QUERY_TERMS = ("dup", "vector", "batch")
_K1 = 1.2
_B = 0.75
_TOP_K = 20
_FUSE_DEPTH = 50  # per-ranker candidate depth for RRF
_RRF_C = 60  # the standard reciprocal-rank-fusion constant


def _tf(term: str) -> Column:
    return F.size(F.filter(words(), lambda x: x == F.lit(term)))


def _spark_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score (integer micro-units) for _QUERY_TERMS.

    Stage 1: one aggregation row (N, Σdl, df per term) — broadcast.
    Stage 2: map-side tf + score, no shuffle until the caller's top-k.

    Widen: both corpus passes (stats + scoring) tokenize and
    count term frequencies map-side; on the testdata's single-row-group
    scan they single-thread. Filling scan parallelism (one doc-row
    round-robin exchange, a no-op on multi-split data) cut the sf0.1
    bench 0.67s → 0.45s.
    """
    d = load_table(
        spark, sf_dir, "documents", widen=True, columns=("doc_id", "text")
    )
    per_doc = d.select(
        "doc_id",
        F.size(words()).alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(_QUERY_TERMS)],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_QUERY_TERMS))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    contribs = []
    for i in range(len(_QUERY_TERMS)):
        tf = F.col(f"tf_{i}").cast("double")
        df = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        tfnorm = tf / (
            tf
            + F.lit(_K1)
            * (F.lit(1.0 - _B) + F.lit(_B) * F.col("dl").cast("double") / avgdl)
        )
        contribs.append(
            F.round(F.lit(1e6) * idf * tfnorm).cast("long").alias(f"c_{i}")
        )
    scored = scored.select("doc_id", "dl", *contribs)
    score = sum(F.col(f"c_{i}") for i in range(len(_QUERY_TERMS)))
    return scored.select(
        "doc_id", "dl", score.alias("bm25_micro")
    ).filter(F.col("bm25_micro") > 0)


def _oracle_bm25() -> str:
    """DuckDB twin of _spark_bm25: identical expression structure so every
    IEEE op happens in the same order."""
    tf_cols = ",\n        ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(_QUERY_TERMS)
    )
    df_cols = ",\n        ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_QUERY_TERMS))
    )
    contrib_cols = ",\n        ".join(
        f"""CAST(round(1e6 * ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)
                         / (CAST(df_{i} AS DOUBLE) + 0.5))
             * (CAST(tf_{i} AS DOUBLE)
                / (CAST(tf_{i} AS DOUBLE)
                   + {_K1} * ({round(1.0 - _B, 10)} + {_B} * CAST(dl AS DOUBLE)
                              / (CAST(sum_dl AS DOUBLE) / n_docs))))) AS BIGINT)
           AS c_{i}"""
        for i in range(len(_QUERY_TERMS))
    )
    score = " + ".join(f"c_{i}" for i in range(len(_QUERY_TERMS)))
    return f"""
    WITH per_doc AS (
      SELECT doc_id,
        len(w) AS dl,
        {tf_cols}
      FROM (SELECT doc_id,
                   {oracle_words()} AS w
            FROM documents)
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
        {df_cols}
      FROM per_doc
    ), contrib AS (
      SELECT doc_id, dl,
        {contrib_cols}
      FROM per_doc CROSS JOIN stats
    ), scored AS (
      SELECT doc_id, dl, {score} AS bm25_micro
      FROM contrib
    )
    SELECT doc_id, dl, bm25_micro FROM scored WHERE bm25_micro > 0"""


@query(
    "text_bm25_search",
    oracle=f"""
    WITH base AS ({_oracle_bm25()})
    SELECT doc_id, CAST(dl AS BIGINT) AS dl, bm25_micro
    FROM base
    ORDER BY bm25_micro DESC, doc_id
    LIMIT {_TOP_K}
    """,
    tags=("llm", "text", "retrieval", "bm25"),
    bench=True,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search: top-{k} documents for a fixed 3-term query.

    Two corpus passes, zero data-proportional shuffles: the stats row
    (N, Σdl, per-term df) is broadcast back and scoring is map-side —
    term frequencies come from array-filter counts in codegen, so the
    fixed query never explodes the corpus into words. The global top-k is
    TakeOrderedAndProject (plan-tested). Per-term contributions are
    quantized to integer micro-units before the per-doc sum, making the
    score order-independent and oracle-exact.
    """
    scored = _spark_bm25(spark, sf_dir)
    return (
        scored.select("doc_id", F.col("dl").cast("long").alias("dl"), "bm25_micro")
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(_TOP_K)
    )


@query(
    "sim_hybrid_rrf",
    oracle=f"""
    WITH bm AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id) AS rank_bm25
      FROM ({_oracle_bm25()})
      ORDER BY bm25_micro DESC, doc_id
      LIMIT {_FUSE_DEPTH}
    ), q AS (
      SELECT embedding::DOUBLE[] AS qv FROM {oracle_valid_embeddings()} WHERE vec_id = 0
    ), cos AS (
      SELECT vec_id AS doc_id,
             list_dot_product(qv, cv)
               / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cosine
      FROM (SELECT vec_id, embedding::DOUBLE[] AS cv
            FROM {oracle_valid_embeddings()} WHERE vec_id <> 0)
           CROSS JOIN q
    ), vec AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rank_vec
      FROM cos
      ORDER BY cosine DESC, doc_id
      LIMIT {_FUSE_DEPTH}
    ), fused AS (
      SELECT
        COALESCE(bm.doc_id, vec.doc_id) AS doc_id,
        bm.rank_bm25 AS rank_bm25,
        vec.rank_vec AS rank_vec,
        COALESCE(1000000000 // ({_RRF_C} + bm.rank_bm25), 0)
          + COALESCE(1000000000 // ({_RRF_C} + vec.rank_vec), 0)
          AS rrf_micro
      FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id
    )
    SELECT doc_id, rank_bm25, rank_vec, rrf_micro
    FROM fused
    ORDER BY rrf_micro DESC, doc_id
    LIMIT {_TOP_K}
    """,
    tags=("llm", "similarity", "retrieval", "hybrid"),
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 keyword ranking
    and a cosine vector ranking (query = embedding of vec_id 0).

    Each ranker contributes its top-{depth} list (k rows — broadcast by
    construction); fusion is a full outer join of two tiny lists with pure
    integer rank arithmetic (1e9 div (c+rank) — floor division, no floats),
    so the result is exactly reproducible across engines. The corpus-scale work is the two underlying
    scans, each already shuffle-free (BM25: broadcast stats; cosine:
    broadcast query vector).
    """
    bm = (
        _spark_bm25(spark, sf_dir)
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(_FUSE_DEPTH)
        .withColumn(
            "rank_bm25",
            F.row_number().over(
                Window.orderBy(F.col("bm25_micro").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rank_bm25")
    )
    # The shared validity tier: a wrong-dimension row crashes DuckDB's
    # list_dot_product while Spark's zip_with NULL-pads.
    e = _valid_embeddings(spark, sf_dir)
    to_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = e.filter(F.col("vec_id") == 0).select(to_double.alias("qv"))
    c = e.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"), to_double.alias("cv")
    )
    cos = c.crossJoin(F.broadcast(q)).select(
        "doc_id",
        (
            _dot(F.col("qv"), F.col("cv"))
            / F.sqrt(_dot(F.col("qv"), F.col("qv")) * _dot(F.col("cv"), F.col("cv")))
        ).alias("cosine"),
    )
    vec = (
        cos.orderBy(F.col("cosine").desc(), "doc_id")
        .limit(_FUSE_DEPTH)
        .withColumn(
            "rank_vec",
            F.row_number().over(Window.orderBy(F.col("cosine").desc(), "doc_id")),
        )
        .select("doc_id", "rank_vec")
    )
    rrf = F.coalesce(
        F.expr(f"1000000000 div ({_RRF_C} + rank_bm25)"), F.lit(0)
    ) + F.coalesce(F.expr(f"1000000000 div ({_RRF_C} + rank_vec)"), F.lit(0))
    fused = (
        bm.join(vec, "doc_id", "full_outer")
        .select("doc_id", "rank_bm25", "rank_vec", rrf.alias("rrf_micro"))
    )
    return fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(_TOP_K)
