"""Similarity search over embedding vectors (SURVEY.md §2B [EXT]).

Three operators over the ``embeddings`` table (array<float>, 64-dim):

  * sim_bruteforce_topk — exact cosine top-k, the correctness baseline
  * sim_ann_lsh         — random-hyperplane LSH bucketed ANN (scale path)
  * sim_label_centroids — vector aggregation (per-label mean vector)

Scale notes: brute force is O(|Q|·|C|) — valid only because Q is tiny
(broadcast); the plan keeps the big candidate side streaming with no
shuffle, computes dot products inside codegen (zip_with + aggregate — no
Python), and takes per-query top-k through a WindowGroupLimit rather than a
global sort. The LSH variant buckets both sides by deterministic hyperplane
sign bits so each query only scores its bucket — the 100 TB shape (candidate
generation by equi-join on a short key). An IVF variant would follow the
same plan with learned centroids as the bucket key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    EMB_DIM,
    oracle_valid_embeddings,
    valid_embedding,
)
from biglake_iceberg_python_spark.plans.registry import query, scratch
from biglake_iceberg_python_spark.sources.tables import load_table

_N_QUERIES = 5  # vec_id < 5 are the query vectors
_TOP_K = 10
# Multi-table hyperplane LSH: L tables of k planes each. Collision prob for
# a pair at angle θ is (1-θ/π)^k per table; with the corpus' top-1 cosines
# (~0.35 → p≈0.61) k=4, L=16 gives ≥0.9 recall. k grows with log(corpus),
# L buys recall linearly in cost.
_LSH_K = 4
_LSH_L = 16


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double — bit-identical to DuckDB's
    list_dot_product over double lists (same order, same IEEE ops)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _as_double(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _valid_embeddings(
    spark: SparkSession, sf_dir: str, with_norm2: bool = False
) -> DataFrame:
    """The embeddings rows a distance/cosine pipeline can score:
    :func:`valid_embedding` (exactly EMB_DIM non-NULL, finite components of
    |x| <= 8) and nonzero norm (cosine undefined). Every similarity
    oracle scans :func:`oracle_valid_embeddings` instead of the table, so
    degenerate rows are excluded SYMMETRICALLY. On a clean corpus the
    filter keeps every row and the plan cost is one codegen predicate on
    the scan.

    ``with_norm2=True`` keeps the filter's norm² fold as a ``_n2``
    column so cosine consumers reuse it instead of re-folding per row —
    the fold is projected once (filter references the projected column),
    and ``sqrt(_n2_a * _n2_b)`` is bit-identical to the oracle's
    ``sqrt(dot(a,a) * dot(b,b))`` because _n2 IS the same sequential
    fold.

    The component check is not redundant with `norm² > 0`: both engines
    order NaN above everything, so `NaN > 0` and `Inf > 0` are TRUE."""
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "_n2", _dot(_as_double("embedding"), _as_double("embedding"))
    ).filter(valid_embedding() & (F.col("_n2") > 0))
    return e if with_norm2 else e.drop("_n2")


@query(
    "sim_bruteforce_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM {oracle_valid_embeddings()} WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cid, label, embedding::DOUBLE[] AS cv
      FROM {oracle_valid_embeddings()}
    ), scored AS (
      SELECT
        q.qid, c.cid, c.label,
        list_dot_product(q.qv, c.cv)
          / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.cv, c.cv))
          AS cosine
      FROM q CROSS JOIN c
      WHERE q.qid <> c.cid
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, cid) AS rk
      FROM scored
    )
    SELECT qid, cid, label, cosine, rk FROM ranked WHERE rk <= {_TOP_K}
    """,
    tags=("llm", "similarity", "knn"),
    bench=True,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: tiny broadcast query set × streaming candidates.

    The candidate side never shuffles for the join (queries broadcast); the
    only shuffle is the per-query top-k window over |Q|·k rows. Dot products
    are a codegen fold — identical arithmetic order to the DuckDB oracle, so
    scores hash-match exactly with no tolerance.
    """
    e = _valid_embeddings(spark, sf_dir, with_norm2=True)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        _as_double("embedding").alias("qv"),
        F.col("_n2").alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        "label",
        _as_double("embedding").alias("cv"),
        F.col("_n2").alias("cn2"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            "label",
            # _n2 reuse keeps this ONE fold per (q, c) pair — the validity
            # filter's norm² is projected once on the scan, not re-folded
            # here; bit-identical to sqrt(dot(q,q) * dot(c,c)).
            (
                _dot(F.col("qv"), F.col("cv"))
                / F.sqrt(F.col("qn2") * F.col("cn2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _TOP_K
    )


def _plane(global_j: int) -> Column:
    """Deterministic pseudo-random hyperplane (no RNG — a fixed integer
    lattice, so reruns and resized clusters agree bit-for-bit)."""
    return F.array(
        *[
            F.lit(
                (((global_j + 1) * 73856093 + d * 19349663 + global_j * d * 83492791)
                 % 2001 - 1000) / 1000.0
            )
            for d in range(EMB_DIM)
        ]
    )


def _lsh_table_buckets(vec_col: str) -> Column:
    """array of (table, bucket) structs: for each of the _LSH_L tables, the
    _LSH_K sign bits of the vector against that table's hyperplanes."""
    entries = []
    for t in range(_LSH_L):
        bucket = F.lit(0)
        for j in range(_LSH_K):
            proj = _dot(F.col(vec_col), _plane(t * _LSH_K + j))
            bucket = bucket + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        entries.append(
            F.struct(F.lit(t).alias("tbl"), bucket.alias("bucket"))
        )
    return F.array(*entries)


@query(
    "sim_ann_lsh",
    oracle=None,  # approximate by design → rows-only; recall vs brute force
    # is asserted in tests/test_operators.py.
    tags=("llm", "similarity", "ann", "lsh"),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: multi-table random-hyperplane LSH — each side gets L
    (table, bucket) keys; candidates are pairs colliding in ANY table.

    The join is an equi-join on (table, bucket) with the tiny query side
    broadcast, then distinct pairs are scored exactly. Scale: candidate
    volume per query ≈ L·|C|/2^k — tune k to log(corpus) and L to the
    recall target; the plan shape (explode → equi-join → distinct → score →
    per-query top-k) is unchanged at any corpus size, and no pairwise scan
    ever happens.
    """
    e = _valid_embeddings(spark, sf_dir)
    vecs = e.select("vec_id", "label", _as_double("embedding").alias("v"))
    keys = vecs.select(
        "vec_id", F.explode(_lsh_table_buckets("v")).alias("tb")
    ).select("vec_id", "tb.tbl", "tb.bucket")

    q_keys = keys.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), "tbl", "bucket"
    )
    cand = (
        F.broadcast(q_keys)
        .join(keys.withColumnRenamed("vec_id", "cid"), ["tbl", "bucket"])
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )

    q = vecs.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    c = vecs.select(F.col("vec_id").alias("cid"), "label", F.col("v").alias("cv"))
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "cid")
        .select(
            "qid",
            "cid",
            "label",
            (
                _dot(F.col("qv"), F.col("cv"))
                / F.sqrt(
                    _dot(F.col("qv"), F.col("qv")) * _dot(F.col("cv"), F.col("cv"))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _TOP_K
    )


@query(
    "sim_label_centroids",
    oracle=f"""
    WITH expanded AS (
      SELECT
        label,
        generate_subscripts(embedding, 1) AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS comp
      FROM {oracle_valid_embeddings()}
    )
    SELECT
      label,
      CAST(COUNT(*) / 64 AS BIGINT) AS n_vectors,
      CAST(SUM(CAST(floor(comp * 1099511627776.0) AS BIGINT)) AS DOUBLE)
        / 1099511627776.0 AS sum_all_components,
      MAX(comp) AS max_component
    FROM expanded
    GROUP BY label
    """,
    tags=("llm", "similarity", "vector-agg"),
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregation: per-label component sums (the centroid numerator
    — the building block of IVF/k-means partitioning for ANN at scale).

    posexplode → (label, dim) partial sums map-side → one shuffle. Component
    sums quantize each float to the 2^-40 binary grid BEFORE summing:
    comp·2^40 is an EXACT double (power-of-two scaling never touches the
    mantissa) and floor() of it is deterministic, so the int64 sum is
    order-independent and identical in both engines. A decimal cast is NOT
    safe here (it was this query's repr-precision red): float components
    are dyadic rationals, which can land exactly on a decimal-scale-12
    halfway point, where Spark rounds HALF_UP and DuckDB half-even.
    """
    e = _valid_embeddings(spark, sf_dir)
    expanded = e.select(
        "label", F.posexplode(_as_double("embedding")).alias("dim", "comp")
    )
    q40 = F.lit(1099511627776.0)  # 2^40
    return expanded.groupBy("label").agg(
        (F.count(F.lit(1)) / EMB_DIM).cast("long").alias("n_vectors"),
        (F.sum(F.floor(F.col("comp") * q40)).cast("double") / q40).alias(
            "sum_all_components"
        ),
        F.max("comp").alias("max_component"),
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM {oracle_valid_embeddings()}
    ), pairs AS (
      SELECT
        a.vec_id AS vec_a, b.vec_id AS vec_b,
        CAST(a.label = b.label AS INTEGER) AS same_label,
        list_dot_product(a.ev, b.ev)
          / sqrt(list_dot_product(a.ev, a.ev) * list_dot_product(b.ev, b.ev))
          AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, same_label, cosine
    FROM pairs WHERE cosine >= 0.5
    """,
    tags=("llm", "dedup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.5), exact.

    Exhaustive pairwise scoring via a broadcast self-join — exact by
    definition, which is what lets the oracle verify it, and affordable to
    ~1e4 vectors per broadcast block. At 100 TB corpus scale the SAME
    threshold semantics run behind the multi-table LSH candidate generator
    (sim_ann_lsh's plan) so only bucket-mates are scored; this operator is
    the ground-truth/verification tier of that pipeline.

    NULL, zero-norm, AND wrong-dimension vectors are excluded on BOTH
    engines (size = {EMB_DIM} plus norm > 0): cosine is undefined for the
    first two, and under Spark's default ANSI mode the bare division
    would abort the whole job on the first degenerate vector a real
    embedding pipeline emits (failed encoder calls land as NULL/empty
    rows). The dimension predicate closes a
    crash-vs-drop divergence: a wrong-dim row passes norm > 0 on both
    engines, then Spark's zip_with NULL-pads the mismatched pair
    (silently dropped) while DuckDB's list_dot_product raises on length
    mismatch — the same EMB_DIM filter kmeans/coreset already carry.
    """
    e = _valid_embeddings(spark, sf_dir)
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("la"),
        _as_double("embedding").alias("va"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("lb"),
        _as_double("embedding").alias("vb"),
    )
    cos = _dot(F.col("va"), F.col("vb")) / F.sqrt(
        _dot(F.col("va"), F.col("va")) * _dot(F.col("vb"), F.col("vb"))
    )
    return (
        F.broadcast(a)
        .join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (F.col("la") == F.col("lb")).cast("int").alias("same_label"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.5)
    )


_IVF_K = 16  # inverted lists (coarse codebook size)
# 6-of-16 lists probed ≈ 37% of the corpus per query. The synthetic
# embeddings have weak cluster structure (top-1 cosine ≈ 0.35), so the
# recall/nprobe curve is flat — on clustered production embeddings the same
# plan runs nprobe 1-2 of K=thousands. Chosen empirically: top-1 recall
# 3/5 (sf0.001) and 4/5 (sf0.01) vs brute force.
_IVF_NPROBE = 6  # lists probed per query


_IVF_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM {oracle_valid_embeddings()}
    ), comp AS (
      SELECT vec_id % {_IVF_K} AS list_id,
             generate_subscripts(ev, 1) AS dim,
             unnest(ev) AS comp
      FROM v
    ), cmean AS (
      SELECT list_id, dim,
             CAST(CAST(SUM(CAST(comp AS DECIMAL(30,12))) AS STRING) AS DOUBLE) / COUNT(*) AS m
      FROM comp GROUP BY list_id, dim
    ), cent AS (
      SELECT list_id, list(m ORDER BY dim) AS cv FROM cmean GROUP BY list_id
    ), dists AS (
      SELECT v.vec_id, c.list_id,
             list_dot_product(v.ev, v.ev)
               - 2 * list_dot_product(v.ev, c.cv)
               + list_dot_product(c.cv, c.cv) AS d2
      FROM v CROSS JOIN cent c
    ), ranked AS (
      SELECT vec_id, list_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
      FROM dists
    ), assign AS (
      SELECT vec_id, list_id FROM ranked WHERE rk = 1
    ), probes AS (
      SELECT vec_id AS qid, list_id FROM ranked
      WHERE vec_id < {_N_QUERIES} AND rk <= {_IVF_NPROBE}
    ), cand AS (
      SELECT DISTINCT p.qid, a.vec_id AS cid
      FROM probes p JOIN assign a ON a.list_id = p.list_id
      WHERE a.vec_id <> p.qid
    ), scored AS (
      SELECT cand.qid, cand.cid, cv.label,
             list_dot_product(qv.ev, cv.ev)
               / sqrt(list_dot_product(qv.ev, qv.ev)
                      * list_dot_product(cv.ev, cv.ev)) AS cosine
      FROM cand
      JOIN v qv ON qv.vec_id = cand.qid
      JOIN v cv ON cv.vec_id = cand.cid
    )
    SELECT qid, cid, label, cosine, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, cid) AS rk
      FROM scored
    ) WHERE rk <= {_TOP_K}
    """


def _ivf_codebook(v):
    """Deterministic coarse codebook: exact-decimal per-dimension means of
    the vec_id-mod-K seed lists (one Lloyd assignment step, no RNG).
    K-row result, consumed by every ranking branch — materialized so the
    per-dimension mean build runs once."""
    comp = v.select(
        (F.col("vec_id") % _IVF_K).alias("list_id"),
        F.posexplode("ev").alias("dim0", "comp"),
    )
    cmean = comp.groupBy("list_id", "dim0").agg(
        (
            F.sum(F.col("comp").cast("decimal(30,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    return (
        cmean.groupBy("list_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "m"))),
                lambda s: s.m,
            ).alias("cv")
        )
        .localCheckpoint(eager=False)
    )


def _ivf_rank(v, cent):
    """Per-vector nearest-centroid ranking (broadcast K centroids; the
    argmin window partitions by vec_id, already co-located map-side)."""
    d2 = (
        _dot(F.col("ev"), F.col("ev"))
        - 2 * _dot(F.col("ev"), F.col("cv"))
        + _dot(F.col("cv"), F.col("cv"))
    )
    return (
        v.join(F.broadcast(cent))
        .select("vec_id", "list_id", d2.alias("d2"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("d2", "list_id")
            ),
        )
    )


@query(
    "sim_ann_ivf",
    oracle=_IVF_ORACLE,
    tags=("llm", "similarity", "ann", "ivf"),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN, IVF flavor: a deterministic coarse codebook (mean of
    each vec_id-mod-K seed partition — one Lloyd assignment step, no RNG),
    every vector assigned to its nearest centroid's inverted list, queries
    probing the n_probe nearest lists only.

    Unlike sim_ann_lsh this variant is exactly reproducible in SQL, so it
    hash-matches a DuckDB oracle end-to-end: centroid components use the
    exact-decimal mean, and every distance/cosine is the same fold-dot both
    engines compute bit-identically (see _dot). Scale: centroids are K
    rows → broadcast; assignment is a map-side argmin over K (no shuffle);
    candidate generation is an equi-join on list_id touching n_probe/K of
    the corpus per query — the textbook IVF cost model. A production build
    would run a few more Lloyd iterations to tighten the codebook (same
    plan per iteration) without changing any downstream shape.
    """
    e = _valid_embeddings(spark, sf_dir)
    v = e.select("vec_id", "label", _as_double("embedding").alias("ev"))
    cent = _ivf_codebook(v)
    ranked = _ivf_rank(v, cent)
    # Both consumers (assignment rk==1, query probes rk<=n_probe) slice the
    # same ranking; materialize the top-n_probe slice (|V|·n_probe short
    # rows) so the |V|×K distance ranking computes once, not per consumer.
    top = ranked.filter(F.col("rk") <= _IVF_NPROBE).select(
        "vec_id", "list_id", "rk"
    ).localCheckpoint(eager=False)
    assign = top.filter(F.col("rk") == 1).select("vec_id", "list_id")
    probes = top.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), "list_id"
    )

    cand = (
        F.broadcast(probes)
        .join(assign.withColumnRenamed("vec_id", "cid"), "list_id")
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )

    q = v.select(F.col("vec_id").alias("qid"), F.col("ev").alias("qv"))
    c = v.select(F.col("vec_id").alias("cid"), "label", F.col("ev").alias("cv2"))
    cos = _dot(F.col("qv"), F.col("cv2")) / F.sqrt(
        _dot(F.col("qv"), F.col("qv")) * _dot(F.col("cv2"), F.col("cv2"))
    )
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "cid")
        .select("qid", "cid", "label", cos.alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOP_K)
        .select("qid", "cid", "label", "cosine", "rk")
    )


@query(
    "sim_knn_classify",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS true_label
      FROM {oracle_valid_embeddings()} WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cid, label, embedding::DOUBLE[] AS cv
      FROM {oracle_valid_embeddings()}
    ), scored AS (
      SELECT
        q.qid, c.cid, c.label,
        list_dot_product(q.qv, c.cv)
          / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.cv, c.cv))
          AS cosine
      FROM q CROSS JOIN c
      WHERE q.qid <> c.cid
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, cid) AS rk
      FROM scored
    ), votes AS (
      SELECT qid, label, COUNT(*) AS n_votes
      FROM ranked WHERE rk <= {_TOP_K}
      GROUP BY qid, label
    ), best AS (
      SELECT qid, label AS pred_label, n_votes,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY n_votes DESC, label) AS vrk
      FROM votes
    )
    SELECT b.qid, q.true_label, b.pred_label,
           CAST(b.n_votes AS BIGINT) AS n_votes
    FROM best b JOIN q ON b.qid = q.qid
    WHERE b.vrk = 1
    """,
    tags=("llm", "similarity", "knn", "classify"),
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification: predict each query vector's label
    from its {_TOP_K} nearest neighbors' labels (ties broken by smallest
    label), reported against the true label.

    Builds directly on the exact top-k (sim_bruteforce_topk): the label
    vote is a |Q|·k-row groupBy plus an argmax window — both negligible
    next to the scan — and the truth join broadcasts the |Q|-row query
    set. At corpus scale the same two stages sit unchanged on top of the
    IVF candidate generation instead of the brute-force scan.
    """
    knn = sim_bruteforce_topk(spark, sf_dir)
    votes = knn.groupBy("qid", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("qid").orderBy(F.col("n_votes").desc(), "label")
    pred = (
        votes.withColumn("vrk", F.row_number().over(w))
        .filter(F.col("vrk") == 1)
        .select("qid", F.col("label").alias("pred_label"), "n_votes")
    )
    truth = (
        _valid_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("label").alias("true_label"))
    )
    return pred.join(F.broadcast(truth), "qid").select(
        "qid", "true_label", "pred_label", "n_votes"
    )


@query(
    "sim_quantize_int8",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM {oracle_valid_embeddings()}
    ), stats AS (
      SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM comp GROUP BY dim
    ), coded AS (
      SELECT c.vec_id, c.label, c.dim, s.lo, (s.hi - s.lo) / 255.0 AS scale,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE CAST(LEAST(GREATEST(
                         FLOOR((c.x - s.lo) / ((s.hi - s.lo) / 255.0) + 0.5),
                         0), 255) AS INTEGER)
             END AS code
      FROM comp c JOIN stats s USING (dim)
    ), cand AS (
      SELECT vec_id AS cid, any_value(label) AS label,
             CAST(SUM(code) AS BIGINT) AS code_sum,
             list(lo + CAST(code AS DOUBLE) * scale ORDER BY dim) AS rv
      FROM coded GROUP BY vec_id
    ), q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM {oracle_valid_embeddings()} WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT qid, cid, label, code_sum, list_dot_product(qv, rv) AS adot
      FROM q CROSS JOIN cand WHERE qid <> cid
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY adot DESC, cid) AS rk
      FROM scored
    )
    SELECT qid, cid, label, code_sum, adot, rk FROM ranked WHERE rk <= {_TOP_K}
    """,
    tags=("llm", "similarity", "ann", "quantization"),
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization + asymmetric top-k: the memory-reduction
    path that makes billion-vector ANN fit a cluster (4 bytes/dim -> 1).

    Per-dimension corpus [lo, hi] is ONE pass of 2*dim min/max partial
    aggregates (no explode — the shuffle carries a single 128-column row),
    broadcast back onto the corpus; codes and reconstructions are pure
    codegen array transforms. Search is asymmetric (full-precision query x
    reconstructed candidate — the ADC trick from the PQ literature: query
    precision is free since |Q| << |C|), with the same broadcast-query /
    streaming-candidate plan as sim_bruteforce_topk. At 100 TB the coded
    corpus is 4x smaller than the raw one and the stats row is O(dim)
    metadata; every stage is a map or a |Q|*k-row window.

    Quantization arithmetic (floor(x/scale + 0.5), clamp, lo + code*scale)
    is the identical IEEE-double expression tree in the DuckDB oracle, so
    codes match exactly and dot products hash-match bit-for-bit.
    """
    e = _valid_embeddings(spark, sf_dir)
    vecs = e.select("vec_id", "label", _as_double("embedding").alias("v"))
    stats = vecs.agg(
        F.array(*[F.min(F.get("v", d)) for d in range(EMB_DIM)]).alias("lo"),
        F.array(*[F.max(F.get("v", d)) for d in range(EMB_DIM)]).alias("hi"),
    )

    with_stats = vecs.crossJoin(F.broadcast(stats))

    def _scale(i: Column) -> Column:
        return (F.get(F.col("hi"), i) - F.get(F.col("lo"), i)) / F.lit(255.0)

    codes = F.transform(
        F.col("v"),
        lambda x, i: F.when(
            F.get(F.col("hi"), i) == F.get(F.col("lo"), i), F.lit(0)
        ).otherwise(
            F.least(
                F.greatest(
                    F.floor((x - F.get(F.col("lo"), i)) / _scale(i) + F.lit(0.5)),
                    F.lit(0),
                ),
                F.lit(255),
            ).cast("int")
        ),
    )
    coded = with_stats.select(
        F.col("vec_id").alias("cid"),
        "label",
        codes.alias("codes"),
        F.col("lo"),
        F.col("hi"),
    )
    cand = coded.select(
        "cid",
        "label",
        F.aggregate(
            F.col("codes"),
            F.lit(0).cast("long"),
            lambda acc, c: acc + c.cast("long"),
        ).alias("code_sum"),
        F.transform(
            F.col("codes"),
            lambda c, i: F.get(F.col("lo"), i) + c.cast("double") * _scale(i),
        ).alias("rv"),
    )

    q = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            "label",
            "code_sum",
            _dot(F.col("qv"), F.col("rv")).alias("adot"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("adot").desc(), F.col("cid"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _TOP_K
    )


@query(
    "sim_ivf_index_persisted",
    oracle=_IVF_ORACLE,
    tags=("llm", "similarity", "ann", "ivf", "lakehouse", "index"),
)
@scratch
def sim_ivf_index_persisted(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """IVF index AS A LAKEHOUSE TABLE: the codebook and the inverted-list
    assignments are built once and COMMITTED to snapshot tables, then the
    query path runs entirely from the PERSISTED index — rank the query
    vectors against the stored K centroids (|Q|·K, query-time cost),
    equi-join the stored assignments for candidates, and re-score with
    true vectors. This is how vector search actually deploys at 100 TB:
    the O(corpus) build is an offline job with snapshot history (rebuilds
    are new commits, time travel keeps the previous index serving), and
    serving never touches the build path.

    Same oracle as sim_ann_ivf — persistence must be invisible to
    results, which is exactly what the shared hash check proves (arrays
    of doubles round-trip parquet bit-exactly).
    """
    import os

    from biglake_iceberg_python_spark.lakehouse.snapshots import SnapshotTable

    e = _valid_embeddings(spark, sf_dir)
    v = e.select("vec_id", "label", _as_double("embedding").alias("ev"))

    # Offline build → two committed tables (codebook + inverted lists).
    cent = _ivf_codebook(v)
    assign = (
        _ivf_rank(v, cent)
        .filter(F.col("rk") == 1)
        .select("vec_id", "list_id")
    )
    cent_tbl = SnapshotTable(spark, os.path.join(root, "cent"))
    list_tbl = SnapshotTable(spark, os.path.join(root, "lists"))
    cent_tbl.write(cent, mode="overwrite")
    list_tbl.write(assign, mode="overwrite")

    # Serving path: reads ONLY the persisted index + the vector table.
    cent_r = cent_tbl.read()
    assign_r = list_tbl.read()
    qv = v.filter(F.col("vec_id") < _N_QUERIES)
    probes = (
        _ivf_rank(qv, cent_r)
        .filter(F.col("rk") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("qid"), "list_id")
    )
    cand = (
        F.broadcast(probes)
        .join(assign_r.withColumnRenamed("vec_id", "cid"), "list_id")
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )
    q = v.select(F.col("vec_id").alias("qid"), F.col("ev").alias("qv"))
    c = v.select(
        F.col("vec_id").alias("cid"), "label", F.col("ev").alias("cv2")
    )
    cos = _dot(F.col("qv"), F.col("cv2")) / F.sqrt(
        _dot(F.col("qv"), F.col("qv")) * _dot(F.col("cv2"), F.col("cv2"))
    )
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "cid")
        .select("qid", "cid", "label", cos.alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOP_K)
        .select("qid", "cid", "label", "cosine", "rk")
    )


_SEM_T = 0.5  # within-cluster cosine threshold for semantic duplicates


@query(
    "dedup_semantic_ivf",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM {oracle_valid_embeddings()}
    ), v AS (
      -- deterministic planted duplicates: every 50th vector re-enters the
      -- corpus as an exact copy under a high id (paraphrase stand-in)
      SELECT vec_id, ev FROM base
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, ev FROM base WHERE vec_id % 50 = 0
    ), comp AS (
      SELECT vec_id % {_IVF_K} AS list_id,
             generate_subscripts(ev, 1) AS dim,
             unnest(ev) AS comp
      FROM v
    ), cmean AS (
      SELECT list_id, dim,
             CAST(CAST(SUM(CAST(comp AS DECIMAL(30,12))) AS STRING) AS DOUBLE) / COUNT(*) AS m
      FROM comp GROUP BY list_id, dim
    ), cent AS (
      SELECT list_id, list(m ORDER BY dim) AS cv FROM cmean GROUP BY list_id
    ), dists AS (
      SELECT v.vec_id, c.list_id,
             list_dot_product(v.ev, v.ev)
               - 2 * list_dot_product(v.ev, c.cv)
               + list_dot_product(c.cv, c.cv) AS d2
      FROM v CROSS JOIN cent c
    ), ranked AS (
      SELECT vec_id, list_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
      FROM dists
    ), assign AS (
      SELECT vec_id, list_id FROM ranked WHERE rk = 1
    ), av AS (
      SELECT a.vec_id, a.list_id, v.ev FROM assign a JOIN v USING (vec_id)
    ), pairs AS (
      SELECT x.list_id, x.vec_id AS a, y.vec_id AS b
      FROM av x JOIN av y
        ON x.list_id = y.list_id AND x.vec_id < y.vec_id
      WHERE list_dot_product(x.ev, y.ev)
              / sqrt(list_dot_product(x.ev, x.ev)
                     * list_dot_product(y.ev, y.ev)) >= {_SEM_T}
    ), pruned AS (
      SELECT list_id,
             COUNT(*) AS n_dup_pairs,
             COUNT(DISTINCT b) AS n_pruned
      FROM pairs GROUP BY list_id
    ), sizes AS (
      SELECT list_id, COUNT(*) AS n_vectors FROM assign GROUP BY list_id
    )
    SELECT
      s.list_id,
      CAST(s.n_vectors AS BIGINT) AS n_vectors,
      CAST(COALESCE(p.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
      CAST(COALESCE(p.n_pruned, 0) AS BIGINT) AS n_pruned,
      CAST(s.n_vectors - COALESCE(p.n_pruned, 0) AS DOUBLE) / s.n_vectors
        AS keep_frac
    FROM sizes s LEFT JOIN pruned p USING (list_id)
    """,
    tags=("llm", "similarity", "dedup", "semantic", "ivf"),
)
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: cluster the embedding corpus with
    the deterministic IVF codebook, then WITHIN each cluster flag vectors
    whose cosine to a lower-id cluster-mate exceeds the threshold — the
    keep-one-per-semantic-group pass that removes paraphrases and
    re-encodings exact hashing misses. Per-cluster accounting (vectors,
    duplicate pairs, pruned count, keep fraction) is the dataset-card
    number SemDeDup reports.

    Scale shape: the pair join is CLUSTER-SCOPED — |cluster|² per list,
    never corpus² — which is the entire point of clustering first; a
    production run caps cluster sizes (recluster oversized lists with
    k'>k, exactly as the SemDeDup paper does) so the quadratic term is
    bounded by design. Assignment is the IVF map-side argmin; exact
    cosines make the whole pipeline DuckDB-hash-checkable.

    The synthetic corpus has no natural semantic duplicates (max
    within-cluster cosine ≈ 0.45), so the operator PLANTS them
    deterministically in-query — every 50th vector re-enters as an exact
    copy under a high id (the injected-duplicates trick from streaming
    dedup and PII redaction, applied to vectors) — and must then prune
    exactly the planted set, which the oracle verifies cluster by
    cluster.
    """
    e = _valid_embeddings(spark, sf_dir)
    base = e.select("vec_id", _as_double("embedding").alias("ev"))
    v = base.unionByName(
        base.filter(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "ev"
        )
    )
    cent = _ivf_codebook(v.select("vec_id", "ev"))
    assign = (
        _ivf_rank(v, cent).filter(F.col("rk") == 1).select("vec_id", "list_id")
    )
    av = assign.join(v, "vec_id").localCheckpoint(eager=False)
    x = av.select(
        F.col("list_id"),
        F.col("vec_id").alias("a"),
        F.col("ev").alias("xa"),
    )
    y = av.select(
        F.col("list_id"),
        F.col("vec_id").alias("b"),
        F.col("ev").alias("xb"),
    )
    cos = _dot(F.col("xa"), F.col("xb")) / F.sqrt(
        _dot(F.col("xa"), F.col("xa")) * _dot(F.col("xb"), F.col("xb"))
    )
    pairs = (
        x.join(y, "list_id")
        .filter(F.col("a") < F.col("b"))
        .filter(cos >= _SEM_T)
        .select("list_id", "a", "b")
    )
    pruned = pairs.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.count_distinct("b").alias("n_pruned"),
    )
    sizes = assign.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        sizes.join(pruned, "list_id", "left")
        .select(
            "list_id",
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.coalesce(F.col("n_dup_pairs"), F.lit(0))
            .cast("long")
            .alias("n_dup_pairs"),
            F.coalesce(F.col("n_pruned"), F.lit(0))
            .cast("long")
            .alias("n_pruned"),
            (
                (
                    F.col("n_vectors")
                    - F.coalesce(F.col("n_pruned"), F.lit(0))
                ).cast("double")
                / F.col("n_vectors")
            ).alias("keep_frac"),
        )
    )


_PQ_M = 4  # subspaces (64 dims → 4 × 16)
_PQ_SUBDIM = 16
_PQ_K = 16  # codes per sub-codebook → 4 codes of 4 bits each per vector

_PQ_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM {oracle_valid_embeddings()}
    ), sub AS (
      SELECT vec_id, s,
             ev[s * {_PQ_SUBDIM} + 1 : s * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sv
      FROM v CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s)
    ), comp AS (
      SELECT vec_id % {_PQ_K} AS code, s,
             generate_subscripts(sv, 1) AS dim, unnest(sv) AS c
      FROM sub
    ), cmean AS (
      SELECT s, code, dim,
             CAST(CAST(SUM(CAST(c AS DECIMAL(30,12))) AS STRING) AS DOUBLE) / COUNT(*) AS m
      FROM comp GROUP BY s, code, dim
    ), cent AS (
      SELECT s, code, list(m ORDER BY dim) AS cv FROM cmean GROUP BY s, code
    ), enc AS (
      SELECT sub.vec_id, sub.s, cent.code,
             list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
               + list_dot_product(cv, cv) AS d2
      FROM sub JOIN cent ON sub.s = cent.s
    ), codes AS (
      SELECT vec_id, s, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, code) AS rk
        FROM enc
      ) WHERE rk = 1
    ), qtab AS (
      SELECT vec_id AS qid, s, code, d2 AS qd2
      FROM enc WHERE vec_id < {_N_QUERIES}
    ), adc AS (
      SELECT q.qid, c.vec_id AS cid,
             CAST(CAST(SUM(CAST(qd2 AS DECIMAL(30,12))) AS STRING) AS DOUBLE) AS adc_d2
      FROM codes c JOIN qtab q ON q.s = c.s AND q.code = c.code
      WHERE c.vec_id <> q.qid
      GROUP BY q.qid, c.vec_id
    )
    SELECT qid, cid, adc_d2, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY adc_d2, cid) AS rk
      FROM adc
    ) WHERE rk <= {_TOP_K}
    """


@query(
    "sim_pq_adc",
    oracle=_PQ_ORACLE,
    tags=("llm", "similarity", "ann", "pq", "quantization"),
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance computation (ADC) —
    the FAISS-style compression tier under IVF: each 64-dim vector is
    encoded as {_PQ_M} sub-codebook codes of log2({_PQ_K}) bits (16 bits
    total vs 256 bytes of floats, a 128× compression), and queries score
    candidates by summing PRE-COMPUTED query-to-subcentroid distances —
    {_PQ_M} table lookups per candidate instead of a 64-dim dot product.

    Deterministic end-to-end (seed codebooks = exact-decimal means of the
    vec_id-mod-K groups per subspace, one Lloyd assignment step, no RNG),
    so the WHOLE pipeline — codebook, encoding, ADC ranking — hash-matches
    the DuckDB oracle; production would iterate Lloyd per subspace without
    changing any plan shape.

    Scale: sub-codebooks are {_PQ_M}×{_PQ_K} rows → broadcast; encoding is
    a map-side argmin + one window over {_PQ_K}-row groups; the serving
    join carries CODES ({_PQ_M} shorts/vector), never raw vectors — the
    point of PQ at 100 TB: the corpus resident set is codes + codebooks,
    and raw floats are only touched at (optional) re-rank. Pair with the
    IVF lists (sim_ann_ivf) to bound candidates; here ADC scans the full
    corpus so the oracle covers every pair.
    """
    e = _valid_embeddings(spark, sf_dir)
    v = e.select("vec_id", _as_double("embedding").alias("ev"))
    sub = v.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(
                            "ev", s * _PQ_SUBDIM + 1, _PQ_SUBDIM
                        ).alias("sv"),
                    )
                    for s in range(_PQ_M)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.s", "x.sv")

    comp = sub.select(
        (F.col("vec_id") % _PQ_K).alias("code"),
        "s",
        F.posexplode("sv").alias("dim0", "c"),
    )
    cmean = comp.groupBy("s", "code", "dim0").agg(
        (
            F.sum(F.col("c").cast("decimal(30,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    cent = (
        cmean.groupBy("s", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "m"))),
                lambda st: st.m,
            ).alias("cv")
        )
        .localCheckpoint(eager=False)
    )

    d2 = (
        _dot(F.col("sv"), F.col("sv"))
        - 2 * _dot(F.col("sv"), F.col("cv"))
        + _dot(F.col("cv"), F.col("cv"))
    )
    enc = sub.join(F.broadcast(cent), "s").select(
        "vec_id", "s", "code", d2.alias("d2")
    )
    # Both consumers (corpus codes, query tables) slice this ranking —
    # materialize once.
    enc = enc.localCheckpoint(eager=False)

    w = Window.partitionBy("vec_id", "s").orderBy("d2", "code")
    codes = (
        enc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("vec_id").alias("cid"), "s", "code")
    )
    qtab = enc.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), "s", "code", F.col("d2").alias("qd2")
    )

    adc = (
        codes.join(F.broadcast(qtab), ["s", "code"])
        .filter(F.col("cid") != F.col("qid"))
        .groupBy("qid", "cid")
        .agg(
            F.sum(F.col("qd2").cast("decimal(30,12)"))
            .cast("double")
            .alias("adc_d2")
        )
    )
    wq = Window.partitionBy("qid").orderBy("adc_d2", "cid")
    return (
        adc.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= _TOP_K)
        .select("qid", "cid", "adc_d2", "rk")
    )


# Matryoshka two-stage retrieval: coarse scoring on the leading prefix of
# each embedding (MRL-trained embeddings concentrate information in the
# leading dims), exact rescoring on survivors only.
_MRL_DIM = 16
_MRL_SHORTLIST = 30


@query(
    "sim_matryoshka_rescore",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM {oracle_valid_embeddings()} WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM {oracle_valid_embeddings()}
    ), coarse AS (
      SELECT
        q.qid, c.cid, q.qv, c.cv,
        list_dot_product(list_slice(q.qv, 1, {_MRL_DIM}),
                         list_slice(c.cv, 1, {_MRL_DIM}))
          / sqrt(list_dot_product(list_slice(q.qv, 1, {_MRL_DIM}),
                                  list_slice(q.qv, 1, {_MRL_DIM}))
                 * list_dot_product(list_slice(c.cv, 1, {_MRL_DIM}),
                                    list_slice(c.cv, 1, {_MRL_DIM})))
          AS coarse_cosine
      FROM q CROSS JOIN c
      WHERE q.qid <> c.cid
    ), shortlist AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY coarse_cosine DESC, cid) AS crk
      FROM coarse
    ), rescored AS (
      SELECT
        qid, cid,
        list_dot_product(qv, cv)
          / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv))
          AS cosine
      FROM shortlist WHERE crk <= {_MRL_SHORTLIST}
    ), ranked AS (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid) AS rk
      FROM rescored
    )
    SELECT qid, cid, cosine, rk FROM ranked WHERE rk <= {_TOP_K}
    """,
    tags=("llm", "similarity", "matryoshka", "rescore"),
)
def sim_matryoshka_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) two-stage retrieval: score every candidate on
    only the LEADING 16 of 64 dims (4× fewer multiply-adds and 4× less
    vector traffic), shortlist the top 30 per query on that coarse
    cosine, then rescore just the shortlist at full dimension for the
    final top-10 — the adaptive-retrieval recipe for
    Matryoshka-represented embeddings, complementing the int8
    (precision-reduced) and IVF (candidate-reduced) variants.

    Both stages are deterministic with explicit tie-breaks, so the
    pipeline — including any recall loss at the coarse stage — is
    reproduced exactly by the oracle and the hashes must agree. Spark
    shape: queries broadcast, candidates stream through the coarse
    scorer in codegen (slice + zip_with fold, no Python), the
    per-query shortlist survives a WindowGroupLimit, and full vectors
    are carried through (never re-fetched) so the rescore touches
    |Q|·30 rows. At 100 TB the coarse stage reads a quarter of the
    vector bytes — with MRL-sliced column storage, a quarter of the
    scan — and the rescore cost is independent of corpus size.
    """
    e = _valid_embeddings(spark, sf_dir)
    q = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
        )
    )
    c = e.select(
        F.col("vec_id").alias("cid"), _as_double("embedding").alias("cv")
    )
    qs = F.slice("qv", 1, _MRL_DIM)
    cs = F.slice("cv", 1, _MRL_DIM)
    coarse = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            "qv",
            "cv",
            (
                _dot(qs, cs)
                / F.sqrt(_dot(qs, qs) * _dot(cs, cs))
            ).alias("coarse_cosine"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("coarse_cosine").desc(), F.col("cid")
    )
    shortlist = (
        coarse.withColumn("crk", F.row_number().over(wq))
        .filter(F.col("crk") <= _MRL_SHORTLIST)
    )
    rescored = shortlist.select(
        "qid",
        "cid",
        (
            _dot(F.col("qv"), F.col("cv"))
            / F.sqrt(
                _dot(F.col("qv"), F.col("qv")) * _dot(F.col("cv"), F.col("cv"))
            )
        ).alias("cosine"),
    )
    wr = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        rescored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _TOP_K)
        .select("qid", "cid", "cosine", "rk")
    )


_RANGE_TAU = 0.28  # ~p99 of the cosine distribution → a few hits per query


@query(
    "sim_range_search",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM {oracle_valid_embeddings()} WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cid, label, embedding::DOUBLE[] AS cv
      FROM {oracle_valid_embeddings()}
    )
    SELECT
      q.qid, c.cid, c.label,
      list_dot_product(q.qv, c.cv)
        / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.cv, c.cv))
        AS cosine
    FROM q CROSS JOIN c
    WHERE q.qid <> c.cid
      AND list_dot_product(q.qv, c.cv)
            / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.cv, c.cv))
          >= {_RANGE_TAU}
    """,
    tags=("llm", "similarity", "range-search"),
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: ALL candidates within cosine ≥ τ
    of each query — the query-centric complement of top-k. Top-k bounds
    result size but not quality; a radius bounds quality but not size —
    retrieval systems need both (k-NN for ranking, radius for "everything
    at least this similar", e.g. duplicate sweeps around a probe vector).

    Same scale shape as `sim_bruteforce_topk`: the query set broadcasts,
    candidates stream through codegen dot products, and the threshold is
    a map-side filter — with NO top-k window at all, the query is
    shuffle-FREE end to end. Identical fold order on both engines, so
    cosines hash-match exactly. At corpus scale, swap the candidate
    stream for IVF/LSH buckets (`sim_ann_ivf`) and keep the filter.
    """
    e = _valid_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("cid"), "label", _as_double("embedding").alias("cv")
    )
    cosine = _dot(F.col("qv"), F.col("cv")) / F.sqrt(
        _dot(F.col("qv"), F.col("qv")) * _dot(F.col("cv"), F.col("cv"))
    )
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", "label", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _RANGE_TAU)
    )


@query(
    "sim_mips_transform",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM {oracle_valid_embeddings()} WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM {oracle_valid_embeddings()}
    ), scored AS (
      SELECT q.qid, c.cid, list_dot_product(q.qv, c.cv) AS dot
      FROM q CROSS JOIN c WHERE q.qid <> c.cid
    ), ranked AS (
      SELECT qid, cid, dot,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dot DESC, cid) AS rk
      FROM scored
    )
    SELECT qid, cid, dot, rk FROM ranked WHERE rk <= {_TOP_K}
    """,
    tags=("llm", "similarity", "mips"),
)
def sim_mips_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum inner-product search (MIPS) and its reduction to cosine —
    the transform that lets cosine-only ANN indexes serve dot-product
    models (recommenders, un-normalized embedding heads): augment each
    candidate with sqrt(M² − ‖x‖²) (M = max corpus norm) and the query
    with 0, and augmented-cosine order EQUALS inner-product order.

    The query returns the direct inner-product top-k (oracle-exact) and
    ASSERTS the reduction in-query: the augmented-cosine ranking must
    produce the identical (qid, cid, rank) set — a counterexample fails
    the assert before any row returns. Both rankings share the broadcast
    query set / streaming candidates shape of `sim_bruteforce_topk`; the
    augmentation adds one map-side column, no extra shuffle.
    """
    e = _valid_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("cid"), _as_double("embedding").alias("cv"))
    base = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", "qv", "cv", _dot(F.col("qv"), F.col("cv")).alias("dot"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "cid")
    direct = base.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _TOP_K
    )
    # the reduction: augmented-cosine ranking must match (computed on the
    # same pairs; M broadcast; ties broken identically)
    m2 = c.select(_dot(F.col("cv"), F.col("cv")).alias("n2")).agg(
        F.max("n2").alias("m2")
    )
    aug = (
        base.crossJoin(F.broadcast(m2))
        .select(
            "qid",
            "cid",
            (
                F.col("dot")
                / (
                    F.sqrt(_dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(F.col("m2"))
                )
            ).alias("aug_cos"),
        )
    )
    wa = Window.partitionBy("qid").orderBy(F.col("aug_cos").desc(), "cid")
    aug_top = (
        aug.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= _TOP_K)
        .select("qid", "cid", "rk")
    )
    direct_set = {
        (r["qid"], r["cid"], r["rk"]) for r in direct.select("qid", "cid", "rk").collect()
    }
    aug_set = {(r["qid"], r["cid"], r["rk"]) for r in aug_top.collect()}
    assert direct_set == aug_set, "MIPS reduction changed the ranking"
    return direct.select("qid", "cid", "dot", "rk")


_MMR_POOL = 20  # relevance-ranked candidate pool fed to the greedy loop
_MMR_K = 5  # diversified results returned


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as chained CTEs — the same argmax tiebreak and
    the same IEEE double sequence as the Spark loop."""
    sim = (
        "list_dot_product(p.cv, s.cv)"
        " / sqrt(list_dot_product(p.cv, p.cv)"
        " * list_dot_product(s.cv, s.cv))"
    )
    rounds = []
    for r in range(1, _MMR_K):
        rounds.append(f"""
    , worst{r} AS (
      SELECT p.cid, MAX({sim}) AS w
      FROM pool p CROSS JOIN sel{r} s
      WHERE p.cid NOT IN (SELECT cid FROM sel{r})
      GROUP BY p.cid
    ), pick{r} AS (
      SELECT p.cid, p.rel, p.cv,
             0.5 * p.rel - 0.5 * w.w AS mmr
      FROM pool p JOIN worst{r} w ON p.cid = w.cid
      ORDER BY mmr DESC, p.cid LIMIT 1
    ), sel{r + 1} AS (
      SELECT cid, rel, cv, mmr, rnk FROM sel{r}
      UNION ALL
      SELECT cid, rel, cv, mmr, {r + 1} FROM pick{r}
    )""")
    return f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM {oracle_valid_embeddings()} WHERE vec_id = 0
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM {oracle_valid_embeddings()} WHERE vec_id <> 0
    ), scored AS (
      SELECT c.cid, c.cv,
             list_dot_product(q.qv, c.cv)
               / sqrt(list_dot_product(q.qv, q.qv)
                      * list_dot_product(c.cv, c.cv)) AS rel
      FROM c CROSS JOIN q
    ), pool AS (
      SELECT cid, cv, rel FROM scored ORDER BY rel DESC, cid
      LIMIT {_MMR_POOL}
    ), sel1 AS (
      SELECT cid, rel, cv, CAST(NULL AS DOUBLE) AS mmr, 1 AS rnk
      FROM pool ORDER BY rel DESC, cid LIMIT 1
    ){''.join(rounds)}
    SELECT CAST(rnk AS BIGINT) AS sel_rank, cid, rel AS rel_cosine,
           mmr AS mmr_score
    FROM sel{_MMR_K}
    """


@query(
    "sim_mmr_diversify",
    oracle=_mmr_oracle(),
    tags=("llm", "similarity", "retrieval", "mmr", "iterative"),
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98) — the
    diversified re-ranking every RAG retrieval stack ships: greedily pick
    5 results that trade relevance to the query against redundancy with
    what's already picked, MMR(i) = λ·rel(i) − (1−λ)·max_{{s∈S}} sim(i,s)
    with λ = 1/2.

    Hash-matched end to end even though the loop is order-dependent: the
    relevance pool, every pairwise cosine, and every round's argmax use
    the sequential-fold dot product that is bit-identical to DuckDB's
    ``list_dot_product`` (`_dot`), λ-scaling by 0.5 is an exact binary
    op, and ties break on cid — so the oracle can unroll the identical
    four greedy rounds as CTEs and must pick the identical documents.

    Scale shape: the expensive stage is the relevance scan — EXACTLY
    sim_bruteforce_topk's shape (query broadcast, candidates stream,
    TakeOrdered pool cut); the greedy loop then runs on the FIXED-SIZE
    pool (20 rows × ≤4 selected comparisons per round — driver-side
    cost, zero corpus involvement). In production the pool size is the
    rerank window (100-1000), still O(1) to the corpus; swapping the
    pool builder for the IVF scan (`sim_ann_ivf`) removes even the full
    relevance pass.
    """
    e = _valid_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(
        _as_double("embedding").alias("qv")
    )
    c = e.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("cid"), _as_double("embedding").alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .select(
            "cid",
            "cv",
            (
                _dot(F.col("qv"), F.col("cv"))
                / F.sqrt(
                    _dot(F.col("qv"), F.col("qv"))
                    * _dot(F.col("cv"), F.col("cv"))
                )
            ).alias("rel"),
        )
    )
    pool = (
        scored.orderBy(F.col("rel").desc(), "cid")
        .limit(_MMR_POOL)
        .localCheckpoint(eager=False)
    )
    sel = (
        pool.orderBy(F.col("rel").desc(), "cid")
        .limit(1)
        .select(
            "cid",
            "rel",
            "cv",
            F.lit(None).cast("double").alias("mmr"),
            F.lit(1).alias("rnk"),
        )
        .localCheckpoint(eager=False)
    )
    sim = _dot(F.col("cv"), F.col("scv")) / F.sqrt(
        _dot(F.col("cv"), F.col("cv")) * _dot(F.col("scv"), F.col("scv"))
    )
    for r in range(1, _MMR_K):
        rest = pool.join(sel.select("cid"), "cid", "left_anti")
        worst = (
            rest.crossJoin(
                F.broadcast(sel.select(F.col("cv").alias("scv")))
            )
            .select("cid", sim.alias("s"))
            .groupBy("cid")
            .agg(F.max("s").alias("w"))
        )
        pick = (
            pool.join(worst, "cid")
            .select(
                "cid",
                "rel",
                "cv",
                (F.lit(0.5) * F.col("rel") - F.lit(0.5) * F.col("w")).alias(
                    "mmr"
                ),
            )
            .orderBy(F.col("mmr").desc(), "cid")
            .limit(1)
            .select("cid", "rel", "cv", "mmr", F.lit(r + 1).alias("rnk"))
        )
        sel = sel.unionAll(pick).localCheckpoint(eager=False)
    return sel.select(
        F.col("rnk").cast("long").alias("sel_rank"),
        "cid",
        F.col("rel").alias("rel_cosine"),
        F.col("mmr").alias("mmr_score"),
    )


# Recall harness: both branch oracles are pulled from the registry at import
# time so the eval can never drift from the queries it grades.
from biglake_iceberg_python_spark.plans.registry import REGISTRY as _REG

_RECALL_ORACLE = f"""
    WITH bf AS (SELECT * FROM ({_REG["sim_bruteforce_topk"].oracle})),
    ivf AS (SELECT * FROM ({_IVF_ORACLE})),
    hits AS (
      SELECT b.qid, COUNT(*) AS hit
      FROM bf b JOIN ivf i ON i.qid = b.qid AND i.cid = b.cid
      GROUP BY b.qid
    ),
    nb AS (SELECT qid, COUNT(*) AS n_exact FROM bf GROUP BY qid),
    ni AS (SELECT qid, COUNT(*) AS n_ivf FROM ivf GROUP BY qid)
    SELECT
      nb.qid,
      CAST(nb.n_exact AS BIGINT) AS n_exact,
      CAST(COALESCE(ni.n_ivf, 0) AS BIGINT) AS n_ivf,
      CAST(COALESCE(h.hit, 0) AS BIGINT) AS hits,
      CAST(COALESCE(h.hit, 0) * 1000000 // nb.n_exact AS BIGINT)
        AS recall_ppm
    FROM nb
    LEFT JOIN ni ON ni.qid = nb.qid
    LEFT JOIN hits h ON h.qid = nb.qid
    ORDER BY nb.qid
    """


@query(
    "sim_recall_eval",
    oracle=_RECALL_ORACLE,
    tags=("llm", "similarity", "ann", "eval"),
)
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evaluation of the IVF index against exact brute force —
    the quality gate every ANN deployment runs before swapping an
    approximate index into production, and re-runs as the corpus grows
    (recall decays when list sizes drift from the codebook). Per query:
    ground-truth size, IVF candidate count, overlap, and recall in ppm.

    Both branches ARE the registered queries (`sim_bruteforce_topk`,
    `sim_ann_ivf`) — the oracle string is composed from their registry
    entries, so the eval grades exactly what the engine serves. All
    outputs are exact integers (set intersection + integer division):
    hash-matched despite grading an 'approximate' method, because the
    IVF pipeline is deterministic end-to-end.

    Scale shape: the eval join touches |Q|·k rows — negligible next to
    the branches it reuses (query set broadcast, centroid-scoped
    scoring, both already plan-audited). At 100 TB the eval cost IS the
    index-build cost; the grading overlay adds one tiny join.
    """
    bf = sim_bruteforce_topk(spark, sf_dir).select("qid", "cid")
    iv = sim_ann_ivf(spark, sf_dir).select("qid", "cid")
    # (qid, cid) is unique on both sides, so the overlap is a plain
    # equi-join (Catalyst turns intersect into the same left-semi shape).
    hits = (
        bf.join(iv, ["qid", "cid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("hit"))
    )
    nb = bf.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    ni = iv.groupBy("qid").agg(F.count(F.lit(1)).alias("n_ivf"))
    return (
        nb.join(ni, "qid", "left")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce("n_ivf", F.lit(0)).cast("long").alias("n_ivf"),
            F.coalesce("hit", F.lit(0)).cast("long").alias("hits"),
            F.expr(
                "CAST(coalesce(hit, 0) * 1000000 DIV n_exact AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("qid")
    )
