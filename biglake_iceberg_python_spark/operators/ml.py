"""Distributed ML operators over the corpus (SURVEY.md §2 Part B [EXT]).

The LLM-pipeline pattern implemented here is **heuristic distillation**: an
expensive or multi-criteria labeling rule is evaluated once on a training
slice, a compact model is fit to imitate it, and the model then scores the
full corpus as a pure map — the shape production quality classifiers
(fastText-style) use at 100 TB, where the heuristic may involve joins or
human labels that cannot run per-document at full scale.

Spark-first design: feature engineering is pure codegen (array HOFs — no
Python UDFs), training runs on `pyspark.ml`'s distributed estimators
(gradient/impurity statistics tree-aggregated across executors), and
scoring is a stateless `model.transform` map with no shuffle. The model
object is small (a few KB) and broadcast to executors by MLlib itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.operators.curation import (
    _MAX_WORDS,
    _MIN_WORDS,
    _MWL_MIN,
    _STOP_SQL,
    _STOPWORDS,
)
from biglake_iceberg_python_spark.functions.exprs import (
    EMB_DIM,
    oracle_cents,
    oracle_valid_embeddings,
    oracle_words,
    valid_embedding,
    words,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

# Split rule shared by train/holdout: deterministic on doc_id, so the same
# document lands on the same side in every engine, run, and cluster size.
_HOLDOUT_MOD, _HOLDOUT_REM = 5, 4


def _quality_features(d: DataFrame) -> DataFrame:
    """Engineered quality signals, all in codegen (no UDFs): word count,
    summed word length, distinct-word count, stopword hits — the inputs the
    Gopher-style heuristic (operators/curation.py) thresholds on.

    NULL text coalesces to an empty token array (all features 0, heuristic
    rejects) — real corpora contain NULL documents, and NULL features
    would otherwise NULL the derived ML label and abort Spark ML's fit
    ("Labels MUST NOT be Null or NaN")."""
    ws = words("text")
    return d.select(
        "doc_id",
        "lang",
        F.size(ws).alias("n"),
        F.aggregate(
            F.transform(ws, lambda x: F.length(x)), F.lit(0), lambda a, b: a + b
        ).alias("sum_len"),
        F.size(F.array_distinct(ws)).alias("n_dist"),
        F.size(
            F.array_intersect(ws, F.array(*[F.lit(s) for s in _STOPWORDS]))
        ).cast("int").alias("n_stop"),
    )


@query(
    "ml_quality_distill",
    oracle=None,  # learned-model outputs are engine-specific → rows-only;
    # tests/test_operators.py asserts holdout fidelity >= 0.9 vs the
    # heuristic the model distills.
    tags=("llm", "ml", "quality-classifier", "distillation"),
)
def ml_quality_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the Gopher-style quality heuristic into a decision-tree
    classifier and score the holdout: per language, how many documents the
    heuristic accepts, how many the model accepts, and how often they agree.

    Train/holdout split is doc_id mod 5 (80/20), deterministic across
    engines and cluster sizes. The tree (depth ≤ 8, fixed seed) recovers
    the heuristic's axis-aligned thresholds almost exactly — holdout
    fidelity ≥ 0.9 is asserted in tests — which is the point of the
    pattern: once distilled, scoring 100 TB costs one codegen'd feature
    projection plus a few broadcast comparisons per row, with no joins and
    no Python in the loop.
    """
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import VectorAssembler

    d = load_table(spark, sf_dir, "documents")
    feat = _quality_features(d)
    heur = (
        F.col("n").between(_MIN_WORDS, _MAX_WORDS)
        & (F.col("sum_len") >= _MWL_MIN * F.col("n"))
        & (2 * F.col("n_dist") >= F.col("n"))
        & (F.col("n_stop") > 0)
    ).cast("double")
    feat = feat.withColumn("label", heur)
    va = VectorAssembler(
        inputCols=["n", "sum_len", "n_dist", "n_stop"], outputCol="features"
    )
    vec = va.transform(feat)
    train = vec.filter(F.col("doc_id") % _HOLDOUT_MOD != _HOLDOUT_REM)
    hold = vec.filter(F.col("doc_id") % _HOLDOUT_MOD == _HOLDOUT_REM)
    model = DecisionTreeClassifier(maxDepth=8, seed=42).fit(train)
    scored = model.transform(hold)
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("label").cast("bigint")).alias("n_heur_pos"),
            F.sum(F.col("prediction").cast("bigint")).alias("n_pred_pos"),
            F.sum(
                (F.col("prediction") == F.col("label")).cast("bigint")
            ).alias("n_agree"),
        )
    )


# --- k-means over embeddings -------------------------------------------------

_KM_K = 8       # clusters
_KM_ITERS = 4   # fixed Lloyd iterations (deterministic, resumable)


@query(
    "ml_kmeans_embeddings",
    oracle=None,  # iterative algorithm → rows-only; tests assert monotone
    # inertia, deterministic reruns, and full point coverage.
    tags=("llm", "ml", "clustering", "iterative"),
)
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding corpus: per-iteration
    cluster sizes and inertia (sum of squared distances to the assigned
    centroid), k={_KM_K}, {_KM_ITERS} fixed iterations.

    The MLlib/production shape: centroids are O(k*dim) metadata collected to
    the driver each round and re-broadcast as codegen literals, so the
    assignment pass is a pure map (k fold-expressions per row, no Python,
    no join) and the update pass is ONE shuffle of k rows carrying
    per-cluster component sums (map-side combined 128-expression aggregate).
    Each iteration is one job over the corpus — at 100 TB that is k-means'
    floor. Determinism: init is the first k vectors by vec_id; centroid
    means and inertia accumulate in DECIMAL so executor-order float
    nondeterminism cannot flip assignments between runs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # Only valid vectors: the fold expressions assume exactly EMB_DIM
    # components, and a NULL init row would crash the driver-side
    # centroid list.
    vecs = e.filter(valid_embedding()).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )

    # Init = first k VALID vectors by vec_id (identical to "vec_id < k"
    # on a clean corpus, and still k centers when early ids were filtered).
    init = vecs.orderBy("vec_id").select("v").limit(_KM_K).collect()
    cents: list[list[float]] = [list(r["v"]) for r in init]
    if not cents:
        # All-degenerate corpus: zero valid vectors means
        # zero centers — F.array() over an empty choice list is malformed,
        # so return an empty history, mirroring ml_coreset_kcenter and the
        # NB empty-train early return. (1 ≤ |cents| < k needs no guard:
        # the assignment array just has fewer choices and absent clusters
        # carry over as empty.)
        return spark.createDataFrame(
            [], "iter int, cluster int, n_points bigint, inertia double"
        )

    history: list[tuple[int, int, int, float]] = []
    for it in range(_KM_ITERS):
        choices = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"),
                            F.array(*[F.lit(x) for x in c]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("dist"),
                    F.lit(j).alias("j"),
                )
                for j, c in enumerate(cents)
            ]
        )
        assigned = vecs.select(
            "v", F.array_min(choices).alias("best")
        ).select("v", F.col("best.j").alias("cl"), F.col("best.dist").alias("d2"))
        stats = (
            assigned.groupBy("cl")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("d2").cast("decimal(38,12)")).alias("inertia"),
                *[
                    F.sum(F.get("v", d).cast("decimal(30,12)")).alias(f"s{d}")
                    for d in range(EMB_DIM)
                ],
            )
            .collect()
        )
        by_cl = {r["cl"]: r for r in stats}
        for j in range(_KM_K):
            r = by_cl.get(j)
            if r is None:  # empty cluster: centroid carries over
                history.append((it, j, 0, 0.0))
                continue
            history.append((it, j, r["n"], float(r["inertia"])))
            cents[j] = [float(r[f"s{d}"] / r["n"]) for d in range(EMB_DIM)]

    return spark.createDataFrame(
        history, "iter int, cluster int, n_points bigint, inertia double"
    )


# --- logistic regression by distributed Newton / IRLS ------------------------

_LR_ITERS = 6
_LR_Q = 10**9   # per-row quantum → order-independent int64 sums
_LR_RIDGE = 1e-6
_LR_NFEAT = 7   # bias, x1..x4, x1², x2²


@query(
    "ml_logistic_newton",
    oracle=None,  # iterative learned model → rows-only; tests assert a
    # strictly decreasing loss, accuracy well above the majority class,
    # and bit-identical reruns.
    tags=("llm", "ml", "logistic-regression", "newton", "iterative"),
)
def ml_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained by distributed NEWTON / IRLS — the
    linear-model complement to the tree distillation, fit to the same
    quality-heuristic labels. Each iteration aggregates the full Hessian
    (7×7, upper triangle = 28 sums) and gradient (7 sums) in ONE map-side
    combined pass; the driver solves the 7-variable normal system and
    re-broadcasts the weights as codegen literals. Six iterations reach
    ~0.93 train accuracy (majority class: 0.70) where plain gradient
    descent needs ~100 passes — at 100 TB, passes over the corpus are the
    budget, so second-order steps with tiny driver-side solves are the
    textbook trade (MLlib's L-BFGS makes the same one).

    Determinism: every per-row Hessian/gradient/loss contribution is
    quantized to an int64 grid (1e-9) BEFORE summation — exact integer
    aggregates, bit-identical under any partitioning (the
    text_lm_perplexity fix applied to second-order statistics). The
    quadratic features x1², x2² make the heuristic's word-count BAND
    separable (a pure linear form cannot represent `a <= n <= b`).

    Returns one row per iteration: quantized mean loss and training
    accuracy — the monotone trajectory is the convergence evidence.
    """
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    feat = _quality_features(d)
    heur = (
        F.col("n").between(_MIN_WORDS, _MAX_WORDS)
        & (F.col("sum_len") >= _MWL_MIN * F.col("n"))
        & (2 * F.col("n_dist") >= F.col("n"))
        & (F.col("n_stop") > 0)
    ).cast("double")
    x1 = F.col("n") / 100.0
    x2 = F.col("sum_len") / F.greatest(F.col("n"), F.lit(1)) / 10.0
    base = feat.select(
        heur.alias("y"),
        x1.alias("x1"),
        x2.alias("x2"),
        (F.col("n_dist") / F.greatest(F.col("n"), F.lit(1))).alias("x3"),
        (F.col("n_stop") / 10.0).alias("x4"),
        (x1 * x1).alias("x5"),
        (x2 * x2).alias("x6"),
    ).localCheckpoint(eager=False)
    xcols = [F.lit(1.0)] + [F.col(f"x{j}") for j in range(1, _LR_NFEAT)]

    def qi(c):
        return F.floor(c * F.lit(float(_LR_Q))).cast("long")

    w = np.zeros(_LR_NFEAT)
    history = []
    for it in range(_LR_ITERS):
        z = sum(
            (F.lit(float(w[j])) * xcols[j] for j in range(1, _LR_NFEAT)),
            F.lit(float(w[0])),
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        wt = p * (1 - p)
        err = F.col("y") - p
        loss = -(
            F.col("y") * F.log(F.greatest(p, F.lit(1e-12)))
            + (1 - F.col("y")) * F.log(F.greatest(1 - p, F.lit(1e-12)))
        )
        aggs = [
            F.sum(qi(wt * xcols[i] * xcols[j])).alias(f"h{i}_{j}")
            for i in range(_LR_NFEAT)
            for j in range(i, _LR_NFEAT)
        ]
        aggs += [
            F.sum(qi(err * xcols[i])).alias(f"g{i}")
            for i in range(_LR_NFEAT)
        ]
        aggs += [
            F.sum(qi(loss)).alias("ql"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                ((p >= 0.5).cast("int") == F.col("y").cast("int")).cast(
                    "long"
                )
            ).alias("n_correct"),
        ]
        row = base.agg(*aggs).collect()[0]
        n = row["n"]
        history.append((it, row["ql"] / _LR_Q / n, row["n_correct"] / n))
        H = np.zeros((_LR_NFEAT, _LR_NFEAT))
        for i in range(_LR_NFEAT):
            for j in range(i, _LR_NFEAT):
                H[i, j] = H[j, i] = row[f"h{i}_{j}"] / _LR_Q
        H += _LR_RIDGE * np.eye(_LR_NFEAT)
        g = np.array([row[f"g{i}"] / _LR_Q for i in range(_LR_NFEAT)])
        w += np.linalg.solve(H, g)
    return spark.createDataFrame(
        history, "iter int, mean_loss double, train_acc double"
    )


# PCA over the embedding corpus. Dimensionality is fixed and small (d=64),
# so the scale split is: the CORPUS-SIZED work (second-moment accumulation)
# runs distributed as fixed-size per-batch partials, and the d×d eigensolve
# runs on the driver — the same "tree-aggregate statistics, solve the tiny
# dense system locally" shape as ml_logistic_newton's 7×7 solve.
_PCA_QUANT = 1_000_000  # embedding values quantize to integer micro-units
_PCA_TOP = 8


def _pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer moment matrix of the embedding corpus.

    Each Arrow batch computes its OWN int64 Gram matrix (numpy X.T @ X on
    micro-unit integers — exact, order-independent) plus per-dim first
    moments, emitting d(d+1)/2 = 2080 fixed-size partial rows per batch;
    Spark merges partials by (i, j) in DECIMAL(38,0). Per-batch products
    stay far below int64 (|x|·1e6 ≤ ~2e6 → pair products ≤ 4e12, ≤ 64k
    rows/batch → ≤ 3e17); the cross-batch merge is decimal, so the pipeline
    is exact at any corpus size.
    """
    import numpy as np
    import pyarrow as pa

    iu, ju = np.triu_indices(EMB_DIM)

    def batch_gram(batches):
        for b in batches:
            col = b.column("embedding")
            arr = np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)
            x = np.floor(arr * _PCA_QUANT).astype(np.int64)
            g = x.T @ x
            s = x.sum(axis=0)
            yield pa.RecordBatch.from_pydict(
                {
                    "i": pa.array((iu + 1).astype(np.int32), pa.int32()),
                    "j": pa.array((ju + 1).astype(np.int32), pa.int32()),
                    "n": pa.array(
                        np.full(len(iu), b.num_rows, dtype=np.int64), pa.int64()
                    ),
                    "si": pa.array(s[iu], pa.int64()),
                    "sj": pa.array(s[ju], pa.int64()),
                    "sij": pa.array(g[iu, ju], pa.int64()),
                }
            )

    # Valid vectors only, on both engines: NULL/wrong-dim rows crash
    # np.stack's ragged conversion, and a component beyond |x| <= 8
    # overflows the int64 micro-unit grid, where numpy's astype silently
    # WRAPS while the oracle's BIGINT cast raises. 8 is also the int64
    # GEMM budget (8e6 micro-units → pair products <= 6.4e13, 64k-row
    # batch sums <= 4.2e18 < 2^63). Zero-norm vectors STAY — they are
    # valid data points for a moment matrix (unlike the cosine family,
    # whose _valid_embeddings also requires norm > 0).
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(valid_embedding())
        .select("embedding")
    )
    partials = e.mapInArrow(
        batch_gram, "i int, j int, n bigint, si bigint, sj bigint, sij bigint"
    )
    isum = lambda c: F.sum(F.col(c).cast("decimal(38,0)"))  # noqa: E731
    return partials.groupBy("i", "j").agg(
        isum("n").cast("long").alias("n_rows"),
        isum("si").cast("long").alias("sum_i"),
        isum("sj").cast("long").alias("sum_j"),
        isum("sij").cast("long").alias("sum_ij"),
    )


@query(
    "ml_pca_gram",
    oracle=f"""
    WITH dims AS (SELECT unnest(generate_series(1, {EMB_DIM})) AS i),
    q AS (SELECT vec_id, embedding::DOUBLE[] AS v
          FROM {oracle_valid_embeddings(nonzero=False)}),
    x AS (
      SELECT vec_id, d.i AS i,
             CAST(floor(v[d.i] * {_PCA_QUANT}) AS BIGINT) AS xi
      FROM q, dims d
    )
    SELECT
      a.i AS i, b.i AS j,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(a.xi) AS BIGINT) AS sum_i,
      CAST(SUM(b.xi) AS BIGINT) AS sum_j,
      CAST(SUM(a.xi * b.xi) AS BIGINT) AS sum_ij
    FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i
    """,
    tags=("llm", "ml", "pca", "arrow"),
    bench=True,
)
def ml_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle second-moment matrix of the embeddings — the
    distributed half of PCA, as exact integers so the whole accumulation
    hash-matches the oracle (the oracle re-derives it the dumb way, by
    exploding dims and self-joining; the engine never materializes
    per-dimension rows — each Arrow batch emits one fixed-size partial).

    100 TB: Python work is embarrassingly parallel (one numpy GEMM per
    batch), shuffle traffic is #batches × 2080 rows regardless of corpus
    size, and the decimal merge keeps exactness past int64.
    """
    return _pca_gram(spark, sf_dir)


@query(
    "ml_pca_power",
    oracle=None,  # eigendecomposition is not SQL-expressible; invariants
    # (orthonormality, trace preservation, descending spectrum, determinism)
    # are asserted in tests/test_operators.py.
    tags=("llm", "ml", "pca"),
)
def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA of the embedding corpus: top-{k} principal components with
    eigenvalue, explained-variance ratio, and the dominant input dimension
    per component.

    The corpus-sized work is `ml_pca_gram` (exact distributed moments);
    only the 64×64 covariance eigensolve runs on the driver — fixed-size
    math independent of corpus scale, like the Newton solver's 7×7 system.
    Covariance is assembled from EXACT integer moments, so the eigensolve
    input (and hence its output, numpy's deterministic LAPACK on one
    machine) is identical across runs and cluster sizes. Component sign is
    fixed by making each component's largest-|loading| entry positive.
    """
    import numpy as np

    rows = _pca_gram(spark, sf_dir).collect()  # 2080 fixed-size rows
    d = EMB_DIM
    n = rows[0]["n_rows"]
    s = np.zeros(d)
    m2 = np.zeros((d, d))
    for r in rows:
        i, j = r["i"] - 1, r["j"] - 1
        m2[i, j] = m2[j, i] = r["sum_ij"]
        s[i], s[j] = r["sum_i"], r["sum_j"]
    cov = (m2 / n - np.outer(s / n, s / n)) / (_PCA_QUANT * _PCA_QUANT)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    total = float(np.trace(cov))
    out = []
    for c in range(_PCA_TOP):
        vec = evecs[:, c]
        top_dim = int(np.argmax(np.abs(vec)))
        if vec[top_dim] < 0:
            vec = -vec
        out.append(
            (
                c + 1,
                float(evals[c]),
                # rank-zero covariance (all vectors identical): total
                # variance is 0 and the ratio is undefined — None, not
                # the NaN a raw 0/0 produces
                float(evals[c] / total) if total > 0.0 else None,
                top_dim + 1,
                float(vec[top_dim]),
            )
        )
    return spark.createDataFrame(
        out,
        "component int, eigenvalue double, explained_ratio double, "
        "top_dim int, top_loading double",
    )


_CORESET_K = 8


@query(
    "ml_coreset_kcenter",
    oracle=None,  # iterative argmax selection has no SQL fixpoint;
    # determinism, radius monotonicity, and coverage invariants are
    # asserted in tests/test_operators.py.
    tags=("llm", "ml", "coreset", "data-pruning"),
)
def ml_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection — the data-pruning primitive that
    picks a small set of maximally spread exemplars (each new center is
    the point FARTHEST from all chosen so far): the classic 2-approximate
    cover used to subsample embedding corpora before expensive labeling
    or training.

    Distributed shape: the running min-distance-to-centers column updates
    with ONE map-side pass per round (new center broadcast as a literal
    array; `least(dist_so_far, dist_to_new)`), and the argmax row is a
    1-row reduce — k rounds total, each a single scan with a scalar to
    the driver (the PageRank/Lloyd loop discipline). Ties break on
    vec_id, the seed is the fixed vec_id 0, and distances are exact
    float64 folds, so selection is deterministic across engines, reruns,
    and layouts.

    Output: the k centers in selection order with the coverage radius
    (max over corpus of distance to nearest center) AFTER each pick —
    the radius curve is the coreset's quality certificate.
    """
    # Only valid vectors: the distance folds assume equal-length arrays,
    # and a NULL seed row would crash the driver-side center list.
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(valid_embedding())
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    # Seed = first VALID vector by vec_id (identical to "vec_id 0" on a
    # clean corpus, and still defined when vec 0 itself was filtered).
    first = e.orderBy("vec_id").select("vec_id", "v").first()
    if first is None:
        # Every embedding row was invalid (the validity filter can empty the
        # table on an all-degenerate corpus): no seed exists, so degrade to an
        # empty pick list — the NB empty-train discipline — instead of
        # TypeError-ing on first["vec_id"].
        return spark.createDataFrame(
            [], "pick int, center_vec_id long, radius_sq_after double"
        )
    centers = [(int(first["vec_id"]), [float(x) for x in first["v"]])]
    sq = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cur = e.withColumn(
        "d2", sq(F.col("v"), F.array(*[F.lit(x) for x in centers[0][1]]))
    ).localCheckpoint(eager=True)
    rows = []
    for _ in range(_CORESET_K - 1):
        far = cur.orderBy(F.col("d2").desc(), "vec_id").first()
        rows.append((centers[-1][0], float(far["d2"])))  # radius after prev pick
        centers.append((int(far["vec_id"]), [float(x) for x in far["v"]]))
        new_c = F.array(*[F.lit(x) for x in centers[-1][1]])
        cur = cur.withColumn(
            "d2", F.least(F.col("d2"), sq(F.col("v"), new_c))
        ).localCheckpoint(eager=True)
    final_radius = cur.agg(F.max("d2").alias("m")).first()["m"]
    rows.append((centers[-1][0], float(final_radius)))
    return spark.createDataFrame(
        [(i + 1, cid, r) for i, (cid, r) in enumerate(rows)],
        "pick int, center_vec_id long, radius_sq_after double",
    )


@query(
    "ml_linreg_normal_eq",
    oracle=f"""
    WITH c AS (
      SELECT
        l_returnflag,
        l_linestatus,
        {oracle_cents('l_quantity')} AS qc,
        {oracle_cents('l_extendedprice')} AS pc
      FROM lineitem
    ), m AS (
      SELECT
        l_returnflag, l_linestatus,
        COUNT(*) AS n, SUM(qc) AS sx, SUM(pc) AS sy,
        SUM(qc * qc) AS sxx, SUM(qc * pc) AS sxy, SUM(pc * pc) AS syy
      FROM c GROUP BY l_returnflag, l_linestatus
    ), k AS (
      SELECT *,
        n * sxy - sx * sy AS num,
        n * sxx - sx * sx AS denx,
        n * syy - sy * sy AS deny
      FROM m
    )
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(n AS BIGINT) AS n_rows,
      -- num/denx/deny are HUGEINT products-of-sums past 2^53 (already at
      -- sf0.01): VARCHAR-routed conversion is correctly rounded on any
      -- DuckDB build — the native INT128->double cast is not — matching
      -- Spark's BigDecimal path
      CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(denx AS VARCHAR) AS DOUBLE) AS slope_dollars_per_unit,
      ((CAST(sy AS DOUBLE)
        - (CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(denx AS VARCHAR) AS DOUBLE)) * CAST(sx AS DOUBLE))
       / CAST(n AS DOUBLE)) / 100.0 AS intercept_dollars,
      (CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(denx AS VARCHAR) AS DOUBLE))
        * (CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(deny AS VARCHAR) AS DOUBLE)) AS r_squared
    FROM k
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("ml", "regression", "exact-moments"),
)
def ml_linreg_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass OLS by normal equations — the distributed regression
    primitive: slope/intercept/R² of extendedprice on quantity per
    (returnflag, linestatus), from five exact sufficient statistics
    gathered in ONE scan. This is the moment-sketch shape MLlib's
    `LinearRegression` summarizer tree-aggregates at scale: the model fit
    costs O(groups), not O(rows), once the Gram moments exist.

    Exactness across engines (the `events_cuped_adjusted_delta` recipe):
    all moments are exact integers in centi-units — two-tier int64→
    decimal(38,0) for n/Σx/Σy/Σx²/Σxy exactly like `pricing_summary`
    (per-partition int64 partials can't wrap: Σxy ≤ 5.5e10/row allows
    1.6e8 rows/split), while Σy² (1.2e14/row) goes straight to a
    decimal(38,0) accumulator — an int64 partial would wrap at ~75k rows,
    inside a real 128 MB split. The closed-form readout
    (n·Σxy−ΣxΣy etc.) stays in decimal(38,0) — exact to 1e38 — and the
    final slope/intercept/R² run the IDENTICAL double op sequence in both
    engines (int→double casts and IEEE ÷,× are correctly rounded — no
    libm anywhere), so the doubles hash bit-for-bit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    _D38 = "decimal(38,0)"
    part = (
        li.select(
            "l_returnflag", "l_linestatus", qc.alias("qc"), pc.alias("pc")
        )
        .groupBy(
            "l_returnflag", "l_linestatus",
            F.spark_partition_id().alias("__pid"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qc").alias("sx"),
            F.sum("pc").alias("sy"),
            F.sum(F.col("qc") * F.col("qc")).alias("sxx"),
            F.sum(F.col("qc") * F.col("pc")).alias("sxy"),
            F.sum((F.col("pc") * F.col("pc")).cast(_D38)).alias("syy"),
        )
    )
    m = part.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("n").alias("n"),
        F.sum(F.col("sx").cast(_D38)).alias("sx"),
        F.sum(F.col("sy").cast(_D38)).alias("sy"),
        F.sum(F.col("sxx").cast(_D38)).alias("sxx"),
        F.sum(F.col("sxy").cast(_D38)).alias("sxy"),
        F.sum("syy").alias("syy"),
    )
    k = m.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        "sx",
        "sy",
        F.expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy").alias("num"),
        F.expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx").alias("denx"),
        F.expr("CAST(n AS DECIMAL(38,0)) * syy - sy * sy").alias("deny"),
    )
    # try_divide: a constant regressor (or constant response) makes
    # denx (or deny) exactly 0 — the singular-Gram case. Spark 4 ANSI
    # raises DIVIDE_BY_ZERO on DOUBLE/0 where DuckDB and ANSI-off Spark
    # return NULL; NULL slope/intercept/R² is the correct undefined-fit
    # readout on both engines.
    return k.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").cast("long").alias("n_rows"),
        F.expr("try_divide(CAST(num AS DOUBLE), CAST(denx AS DOUBLE))").alias(
            "slope_dollars_per_unit"
        ),
        F.expr(
            "((CAST(sy AS DOUBLE)"
            " - try_divide(CAST(num AS DOUBLE), CAST(denx AS DOUBLE))"
            "   * CAST(sx AS DOUBLE))"
            " / CAST(n AS DOUBLE)) / 100.0"
        ).alias("intercept_dollars"),
        F.expr(
            "try_divide(CAST(num AS DOUBLE), CAST(denx AS DOUBLE))"
            " * try_divide(CAST(num AS DOUBLE), CAST(deny AS DOUBLE))"
        ).alias("r_squared"),
    ).orderBy("l_returnflag", "l_linestatus")


_NB_WC_SQL = f"""
    WITH docs AS (
      -- lang IS NOT NULL: a supervised classifier needs a label — an
      -- unlabeled doc can neither train a class nor anchor a confusion
      -- row, and a None label crashed the Spark driver's sorted(classes).
      SELECT doc_id, lang,
             {oracle_words()} AS ws,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':nb'), 1, 8))
               ::BIGINT % 5 = 0 AS is_test
      FROM {{documents}} WHERE lang IS NOT NULL
    ), train AS (SELECT * FROM docs WHERE NOT is_test),
    classes AS (SELECT lang AS clang, COUNT(*) AS dc FROM train GROUP BY lang),
    wc AS (
      SELECT lang AS clang, w, COUNT(*) AS c
      FROM (SELECT lang, unnest(ws) AS w FROM train)
      GROUP BY lang, w
    )
"""


def _nb_oracle(sf_dir: str) -> str:
    """Data-dependent oracle (the ml_woe_binning pattern, over a TYPE-level
    domain): DuckDB rebuilds the split, the model counts, and the scoring
    joins itself; only the ln micro-nat values enter as Python-decimal
    literals (functions/exactlog.py), joined on the integer argument. The
    argument domain is {c+1} ∪ {dc} ∪ {n_train} ∪ {tok+V} — bounded by
    DISTINCT word-count values (Zipf-collapsed, ≪ vocab), not by corpus
    size. An uncovered argument would drop rows via the inner joins and
    fail the row-count gate loudly."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_values_sql,
    )

    con = duckdb.connect()
    body = _NB_WC_SQL.format(
        documents=f"read_parquet('{sf_dir}/documents.parquet')"
    )
    cvals = [r[0] for r in con.execute(
        body + " SELECT DISTINCT c FROM wc"
    ).fetchall()]
    # LEFT join so a class whose train docs all tokenize empty still
    # contributes its dc to n_train — the oracle's ntr is SUM(dc) over ALL
    # classes, and an n_train literal derived from only token-bearing
    # classes would miss that argument and empty the oracle's classtab.
    # (Token-less classes are excluded from classtab itself by BOTH
    # engines — inner join on tokc in SQL, wc-rollup rows in Spark.)
    stats = con.execute(
        body
        + """
        SELECT c.clang, c.dc, t.tok,
               (SELECT COUNT(DISTINCT w) FROM wc) AS v
        FROM classes c
        LEFT JOIN (SELECT clang, SUM(c) AS tok FROM wc GROUP BY clang) t
          ON c.clang = t.clang
        """
    ).fetchall()
    con.close()
    n_train = sum(r[1] for r in stats)
    args = (
        {c + 1 for c in cvals}
        | {r[1] for r in stats}
        | {n_train}
        | {r[2] + r[3] for r in stats if r[2] is not None}
    )
    # Empty corpus: n_train is 0, which is not a valid ln argument and is
    # never joined (classtab is empty when classes is) — drop non-positive
    # args instead of crashing the builder.
    args = {a for a in args if a >= 1}
    body = _NB_WC_SQL.format(documents="documents")
    return f"""
    {body},
    test AS (SELECT * FROM docs WHERE is_test),
    ntr AS (SELECT SUM(dc) AS n FROM classes),
    tokc AS (SELECT clang, SUM(c) AS tok FROM wc GROUP BY clang),
    vn AS (SELECT COUNT(DISTINCT w) AS v FROM wc),
    ln_t(arg, micro) AS (VALUES {micro_nat_values_sql(args or [1])}),
    classtab AS (
      SELECT c.clang,
        ld.micro - ln_.micro AS prior_micro,
        lt.micro AS lognorm_micro
      FROM classes c
      JOIN tokc t ON c.clang = t.clang
      JOIN ln_t ld ON ld.arg = c.dc
      JOIN ln_t ln_ ON ln_.arg = (SELECT n FROM ntr)
      JOIN ln_t lt ON lt.arg = t.tok + (SELECT v FROM vn)
    ),
    model AS (
      SELECT wc.clang, wc.w, lc.micro AS smooth
      FROM wc JOIN ln_t lc ON lc.arg = wc.c + 1
    ),
    tw AS (
      SELECT doc_id, w, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(ws) AS w FROM test)
      GROUP BY doc_id, w
    ),
    tdoc AS (SELECT doc_id, lang AS actual_lang, len(ws) AS t_doc FROM test),
    ssum AS (
      SELECT tw.doc_id, m.clang, SUM(tw.cnt * m.smooth) AS s
      FROM tw JOIN model m ON tw.w = m.w
      GROUP BY tw.doc_id, m.clang
    ),
    scored AS (
      SELECT td.doc_id, td.actual_lang, ct.clang,
        ct.prior_micro + COALESCE(s.s, 0) - td.t_doc * ct.lognorm_micro
          AS score
      FROM tdoc td CROSS JOIN classtab ct
      LEFT JOIN ssum s ON s.doc_id = td.doc_id AND s.clang = ct.clang
    ),
    pred AS (
      SELECT actual_lang, clang AS predicted_lang,
        ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, clang) AS rn
      FROM scored
    )
    SELECT actual_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY actual_lang, predicted_lang
    ORDER BY actual_lang, predicted_lang
    """


@query(
    "ml_naive_bayes_langid",
    oracle_builder=_nb_oracle,
    tags=("ml", "llm", "classifier", "langid"),
    bench=True,
)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and scored
    entirely in SQL ops — the fastText-style supervised counterpart to
    `text_langid`'s heuristic: an 80/20 md5 split, add-one-smoothed
    per-class word likelihoods from the training split, argmax posterior
    on the held-out split, and the 5×5 confusion matrix as the readout.
    The same shape scores quality/domain/toxicity classifiers at corpus
    scale: training IS an aggregation, scoring IS a broadcast join.

    Exactness (by construction, the ml_woe_binning pattern over a
    TYPE-level domain): every log term — ln(c_wc+1), ln(docs_c),
    ln(n_train), ln(tok_c+V) — is an integer micro-nat computed ONCE in
    Python decimal arithmetic (functions/exactlog.py) over the collected
    DISTINCT-argument set, entering the Spark plan as a broadcast-joined
    literal table and the DuckDB oracle as a literal VALUES join. Neither
    engine evaluates ln, so posterior scores are exact int64 sums under
    any partitioning and the argmax (ties broken by class name) is
    engine-identical — the JVM-vs-libm hazard class is gone, not merely
    measure-zero-argued.

    Scale shape: the model is TYPE-level — |V|·5 rows ≪ corpus — built
    with one (class, word) shuffle with map-side combine and
    lazily-checkpointed; the ln-argument domain (DISTINCT count values,
    Zipf-collapsed ≪ |V|), the 5-row class stats, and the class doc
    counts all arrive in ONE collect (rollup ∪ doc-count agg, tagged by
    grouping id) whose results become the literal classtab, so the final
    DAG rescans no corpus for ntr/classes and no extra collect round-trip
    runs. Scoring joins held-out
    token counts against the model on the word key, then 5 class rows
    broadcast into the posterior assembly. No corpus-sized shuffle
    carries text.
    """
    from biglake_iceberg_python_spark.functions.exactlog import micro_nat
    from biglake_iceberg_python_spark.operators.pipeline import _md5_bucket

    # Unlabeled docs excluded on both engines — see the _NB_WC_SQL note.
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    ws = words("text")
    docs = d.select(
        "doc_id",
        "lang",
        ws.alias("ws"),
        (_md5_bucket(F.col("doc_id"), "nb", 5) == 0).alias("is_test"),
    )
    train = docs.filter(~F.col("is_test"))
    test = docs.filter(F.col("is_test"))
    wc = (
        train.select(F.col("lang").alias("clang"), F.explode("ws").alias("w"))
        .groupBy("clang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    # Driver-side literal derivation (all from the materialized checkpoint +
    # one train count scan): DISTINCT count values (type-level,
    # Zipf-collapsed), per-class token totals, vocab size, class doc counts.
    # n_train = Σ dc — no separate corpus count job. ONE driver action for the
    # whole model skeleton (an extra collect round-trip cost +41% bench time):
    # the rollup over the checkpointed type table (grand-total row g=1 carries
    # the distinct-count domain + vocab size, per-class rows g=0 carry token
    # totals) is UNIONed with the class doc-count agg (tagged g=2,
    # column-pruned scan — Catalyst drops the split(text)) and collected once.
    rollup = wc.rollup("clang").agg(
        F.sum("c").alias("tok"),
        F.collect_set("c").alias("cs"),
        F.count_distinct("w").alias("nw"),
        F.grouping_id().cast("int").alias("g"),
    )
    doc_counts = train.groupBy(F.col("lang").alias("clang")).agg(
        F.count(F.lit(1)).alias("tok"),
        F.lit(None).cast("array<long>").alias("cs"),
        F.lit(None).cast("long").alias("nw"),
        F.lit(2).alias("g"),
    )
    stats = rollup.unionByName(doc_counts).collect()
    total = next((r for r in stats if r["g"] == 1), None)
    if total is None:
        # Empty/degenerate training corpus: a rollup over empty input
        # emits no grand-total row; degrade to an empty confusion matrix
        # instead of raising.
        return spark.createDataFrame(
            [], "actual_lang string, predicted_lang string, n_docs long"
        )
    cvals, v = total["cs"], total["nw"]
    cstats = [r for r in stats if r["g"] == 0]
    dc = {r["clang"]: r["tok"] for r in stats if r["g"] == 2}
    n_train = sum(dc.values())
    # Class priors and normalizers are PYTHON ints at this point — inline
    # them as literals instead of crossJoin-ing a 5-row classtab and
    # window-ranking 5 rows per doc: the per-class
    # score becomes a codegen column, and the argmax a struct-max over a
    # literal array. Removes one shuffle (the (doc,class) groupBy), the
    # broadcast crossJoin, and the ranking window from the scoring DAG.
    classes = sorted(r["clang"] for r in cstats)
    prior = {
        r["clang"]: micro_nat(dc[r["clang"]]) - micro_nat(n_train)
        for r in cstats
    }
    lognorm = {r["clang"]: micro_nat(r["tok"] + v) for r in cstats}
    # Smoothed-likelihood table as a literal-map PROJECTION over the
    # checkpointed type table: cvals is the Zipf-collapsed distinct-count
    # domain (~100 values at sf0.1), so ln(c+1) is a codegen map lookup
    # instead of a broadcast build + join (one job and one plan join
    # fewer). Every wc.c is in the domain by construction
    # (cvals = collect_set(c)).
    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_shift_pairs,
        with_micro_nat_shift,
    )

    model = with_micro_nat_shift(
        wc, micro_nat_shift_pairs(cvals, 1), "c", "smooth"
    ).select("clang", "w", "smooth")
    # Per-(doc, class) smoothed-likelihood sums in ONE groupBy(doc_id):
    # exploded test tokens join the type-level model on the word key (each
    # occurrence contributes its class's smooth term once — multiplicity
    # is the row count, no pre-agg shuffle needed), then 5 conditional
    # sums pivot the classes into columns.
    ssum = (
        test.select("doc_id", F.explode("ws").alias("w"))
        .join(model, "w")
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(
                    F.when(F.col("clang") == c, F.col("smooth"))
                ).alias(f"s_{i}")
                for i, c in enumerate(classes)
            ]
        )
    )
    tdoc = test.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        F.size("ws").cast("long").alias("t_doc"),
    )
    # score_c = prior_c + Σ smooth − t_doc · lognorm_c (pure int64 on
    # literals). Argmax with smallest-name tie-break: struct ordering on
    # (score, reverse class index) — classes sorted ascending, so a larger
    # reverse index IS the lexicographically smaller name.
    nclasses = len(classes)
    scored = tdoc.join(ssum, "doc_id", "left").select(
        "actual_lang",
        F.array_max(
            F.array(
                *[
                    F.struct(
                        (
                            F.lit(prior[c])
                            + F.coalesce(F.col(f"s_{i}"), F.lit(0))
                            - F.col("t_doc") * F.lit(lognorm[c])
                        ).alias("score"),
                        F.lit(nclasses - 1 - i).alias("revidx"),
                        F.lit(c).alias("name"),
                    )
                    for i, c in enumerate(classes)
                ]
            )
        )["name"].alias("predicted_lang"),
    )
    return (
        scored.groupBy("actual_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("actual_lang", "predicted_lang")
    )


_PR_THRESHOLDS = tuple(range(500, 1000, 50))  # per-mille score cutoffs


@query(
    "ml_pr_curve_quality",
    oracle=f"""
    WITH m AS (
      SELECT
        len(ws) AS n,
        list_sum(list_transform(ws, x -> len(x))) AS sum_len,
        len(list_distinct(ws)) AS n_dist,
        len(list_intersect(ws, {_STOP_SQL})) > 0 AS has_stop
      FROM (
        SELECT {oracle_words()} AS ws
        FROM documents
      )
    ), scored AS (
      SELECT
        (n_dist * 1000000 // n) // 1000 AS score_milli,
        (n BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
          AND sum_len >= {_MWL_MIN} * n
          AND 2 * n_dist >= n
          AND has_stop AS label
      FROM m WHERE n > 0
    ), hist AS (
      SELECT score_milli,
             COUNT(*) FILTER (WHERE label) AS n_pos,
             COUNT(*) FILTER (WHERE NOT label) AS n_neg
      FROM scored GROUP BY score_milli
    ), tot AS (
      SELECT SUM(n_pos) AS pos_total, SUM(n_neg) AS neg_total FROM hist
    ), sweep AS (
      SELECT t.t_milli,
             COALESCE(SUM(h.n_pos) FILTER (WHERE h.score_milli >= t.t_milli),
                      0) AS tp,
             COALESCE(SUM(h.n_neg) FILTER (WHERE h.score_milli >= t.t_milli),
                      0) AS fp
      FROM (SELECT unnest(ARRAY{list(_PR_THRESHOLDS)}) AS t_milli) t
      CROSS JOIN hist h
      GROUP BY t.t_milli
    )
    SELECT
      CAST(s.t_milli AS BIGINT) AS t_milli,
      CAST(s.tp AS BIGINT) AS tp,
      CAST(s.fp AS BIGINT) AS fp,
      CAST(g.pos_total - s.tp AS BIGINT) AS fn,
      CAST(g.neg_total - s.fp AS BIGINT) AS tn,
      CAST(CASE WHEN s.tp + s.fp = 0 THEN 0
           ELSE s.tp * 1000000 // (s.tp + s.fp) END AS BIGINT)
        AS precision_ppm,
      CAST(CASE WHEN g.pos_total = 0 THEN 0
           ELSE s.tp * 1000000 // g.pos_total END AS BIGINT) AS recall_ppm,
      CAST(CASE WHEN 2 * s.tp + s.fp + (g.pos_total - s.tp) = 0 THEN 0
           ELSE 2 * s.tp * 1000000
                // (2 * s.tp + s.fp + (g.pos_total - s.tp)) END AS BIGINT)
        AS f1_ppm
    FROM sweep s CROSS JOIN tot g
    ORDER BY t_milli
    """,
    tags=("ml", "llm", "eval", "pr-curve"),
)
def ml_pr_curve_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall threshold sweep — the operating-point chart every
    production quality classifier ships with: grade a cheap one-feature
    scorer (distinct-word ratio, the repetition signal) against the full
    Gopher rule-set label at ten per-mille cutoffs, emitting the exact
    confusion counts plus precision/recall/F1 in ppm per threshold.

    Exactness: scores quantize to per-mille buckets and thresholds are
    per-mille multiples, so `bucket >= t` is EXACTLY `score_ppm >= t·1000`
    (truncating division both sides) — no float comparisons anywhere, and
    the ppm metrics are integer divisions of exact counts.

    Scale shape: the corpus collapses map-side into a ≤1000-row
    (score-bucket × label) histogram in one shuffle; the 10-threshold
    sweep is a broadcast cross of that histogram — sweep cost is
    O(buckets·thresholds), independent of corpus size. Adding a
    thousand-point ladder at 100 TB costs nothing more.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = words("text")
    m = d.select(ws.alias("w")).select(
        F.size("w").alias("n"),
        F.aggregate(
            "w", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("sum_len"),
        F.size(F.array_distinct("w")).alias("n_dist"),
        F.arrays_overlap(
            "w", F.array(*[F.lit(s) for s in _STOPWORDS])
        ).alias("has_stop"),
    )
    scored = m.filter(F.col("n") > 0).select(
        F.expr("(CAST(n_dist AS BIGINT) * 1000000 DIV n) DIV 1000").alias("score_milli"),
        (
            F.col("n").between(_MIN_WORDS, _MAX_WORDS)
            & (F.col("sum_len") >= _MWL_MIN * F.col("n"))
            & (2 * F.col("n_dist") >= F.col("n"))
            & F.col("has_stop")
        ).alias("label"),
    )
    hist = scored.groupBy("score_milli").agg(
        F.count(F.when(F.col("label"), 1)).alias("n_pos"),
        F.count(F.when(~F.col("label"), 1)).alias("n_neg"),
    )
    tot = hist.agg(
        F.sum("n_pos").alias("pos_total"), F.sum("n_neg").alias("neg_total")
    )
    thresholds = spark.createDataFrame(
        [(t,) for t in _PR_THRESHOLDS], "t_milli int"
    )
    sweep = (
        F.broadcast(thresholds)
        .crossJoin(hist)
        .groupBy("t_milli")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("score_milli") >= F.col("t_milli"),
                           F.col("n_pos"))
                ),
                F.lit(0),
            ).alias("tp"),
            F.coalesce(
                F.sum(
                    F.when(F.col("score_milli") >= F.col("t_milli"),
                           F.col("n_neg"))
                ),
                F.lit(0),
            ).alias("fp"),
        )
    )
    return (
        sweep.crossJoin(F.broadcast(tot))
        .select(
            F.col("t_milli").cast("long").alias("t_milli"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            (F.col("pos_total") - F.col("tp")).cast("long").alias("fn"),
            (F.col("neg_total") - F.col("fp")).cast("long").alias("tn"),
            F.expr(
                "CAST(CASE WHEN tp + fp = 0 THEN 0"
                " ELSE tp * 1000000 DIV (tp + fp) END AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(CASE WHEN pos_total = 0 THEN 0"
                " ELSE tp * 1000000 DIV pos_total END AS BIGINT)"
            ).alias("recall_ppm"),
            F.expr(
                "CAST(CASE WHEN 2 * tp + fp + (pos_total - tp) = 0 THEN 0"
                " ELSE 2 * tp * 1000000"
                " DIV (2 * tp + fp + (pos_total - tp)) END AS BIGINT)"
            ).alias("f1_ppm"),
        )
        .orderBy("t_milli")
    )


@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH m AS (
      SELECT
        len(ws) AS n,
        list_sum(list_transform(ws, x -> len(x))) AS sum_len,
        len(list_distinct(ws)) AS n_dist,
        len(list_intersect(ws, {_STOP_SQL})) > 0 AS has_stop
      FROM (
        SELECT {oracle_words()} AS ws
        FROM documents
      )
    ), scored AS (
      SELECT
        LEAST(((n_dist * 1000000 // n) // 1000) // 100, 9) AS bin,
        (n_dist * 1000000 // n) // 1000 AS score_milli,
        (n BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
          AND sum_len >= {_MWL_MIN} * n
          AND 2 * n_dist >= n
          AND has_stop AS label
      FROM m WHERE n > 0
    ), b AS (
      SELECT bin,
             COUNT(*) AS n_docs,
             SUM(score_milli) AS sum_milli,
             COUNT(*) FILTER (WHERE label) AS n_pos
      FROM scored GROUP BY bin
    ), tot AS (SELECT SUM(n_docs) AS n_total FROM b)
    SELECT
      CAST(bin AS INTEGER) AS bin,
      CAST(n_docs AS BIGINT) AS n_docs,
      CAST(sum_milli * 1000 // n_docs AS BIGINT) AS mean_conf_ppm,
      CAST(n_pos * 1000000 // n_docs AS BIGINT) AS pos_rate_ppm,
      CAST(abs(sum_milli * 1000 // n_docs - n_pos * 1000000 // n_docs)
        AS BIGINT) AS gap_ppm,
      CAST(n_docs * 1000000 // t.n_total AS BIGINT) AS weight_ppm
    FROM b CROSS JOIN tot t
    ORDER BY bin
    """,
    tags=("ml", "llm", "eval", "calibration"),
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram / ECE decomposition for the one-feature quality
    scorer: decile-bin the predicted confidence (distinct-word ratio,
    per-mille) and compare mean confidence against the empirical
    Gopher-label positive rate per bin — the calibration check that
    belongs next to ``ml_pr_curve_quality``'s operating-point sweep.

    Exactness: confidence quantizes to per-mille before binning, so bin
    edges are integer comparisons; per-bin means and rates are integer
    floor-divisions of exact sums (numerators nonnegative — floor == trunc)
    and the ECE terms (gap × weight) are derivable from the emitted exact
    integers. No IEEE division anywhere.

    Scale shape: one map-side fold per document (the word-list aggregate),
    one shuffle into a ≤10-row bin histogram, and a broadcast cross join
    against the 1-row total — identical cost profile to the PR sweep:
    O(corpus) scan, O(1) state. 100 TB-safe.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = words("text")
    m = d.select(ws.alias("w")).select(
        F.size("w").alias("n"),
        F.aggregate(
            "w", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("sum_len"),
        F.size(F.array_distinct("w")).alias("n_dist"),
        F.arrays_overlap(
            "w", F.array(*[F.lit(s) for s in _STOPWORDS])
        ).alias("has_stop"),
    )
    scored = m.filter(F.col("n") > 0).select(
        F.expr(
            "least(((CAST(n_dist AS BIGINT) * 1000000 DIV n) DIV 1000) DIV 100, 9)"
        ).alias("bin"),
        F.expr("(CAST(n_dist AS BIGINT) * 1000000 DIV n) DIV 1000").alias("score_milli"),
        (
            F.col("n").between(_MIN_WORDS, _MAX_WORDS)
            & (F.col("sum_len") >= _MWL_MIN * F.col("n"))
            & (2 * F.col("n_dist") >= F.col("n"))
            & F.col("has_stop")
        ).alias("label"),
    )
    b = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score_milli").alias("sum_milli"),
        F.count(F.when(F.col("label"), 1)).alias("n_pos"),
    )
    tot = b.agg(F.sum("n_docs").alias("n_total"))
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("int").alias("bin"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr("sum_milli * 1000 DIV n_docs").cast("long").alias(
                "mean_conf_ppm"
            ),
            F.expr("n_pos * 1000000 DIV n_docs").cast("long").alias(
                "pos_rate_ppm"
            ),
            F.expr(
                "abs(sum_milli * 1000 DIV n_docs"
                " - n_pos * 1000000 DIV n_docs)"
            ).cast("long").alias("gap_ppm"),
            F.expr("n_docs * 1000000 DIV n_total").cast("long").alias(
                "weight_ppm"
            ),
        )
        .orderBy("bin")
    )


_WOE_HIST_SQL = """
    SELECT LEAST(CAST(FLOOR(o_totalprice / 25000) AS BIGINT), 9) AS bin,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_pos,
           COUNT(*) FILTER (WHERE o_orderpriority <> '1-URGENT') AS n_neg
    FROM {orders} GROUP BY bin
"""


def _woe_oracle(sf_dir: str) -> str:
    """Data-dependent oracle: DuckDB recomputes the histogram itself, but
    every ln comes from the SAME Python-decimal micro-nat literal table the
    Spark plan uses (functions/exactlog.py) — zero transcendentals in
    either engine, so no libm boundary exists. If the literal table ever
    disagreed with the histogram, the inner joins would drop rows and the
    gate would fail loudly on row count."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_values_sql,
    )

    con = duckdb.connect()
    hist = con.execute(
        _WOE_HIST_SQL.format(
            orders=f"read_parquet('{sf_dir}/orders.parquet')"
        )
    ).fetchall()
    con.close()
    pos_tot = sum(r[1] for r in hist)
    neg_tot = sum(r[2] for r in hist)
    args = (
        {r[1] + 1 for r in hist}
        | {r[2] + 1 for r in hist}
        | {pos_tot + 10, neg_tot + 10}
    )
    hist_sql = _WOE_HIST_SQL.format(orders="orders")
    return f"""
    WITH h AS ({hist_sql}),
    t AS (SELECT SUM(n_pos) AS pos_tot, SUM(n_neg) AS neg_tot FROM h),
    ln_tab(n, micro) AS (VALUES {micro_nat_values_sql(args)})
    SELECT
      CAST(h.bin AS BIGINT) AS bin,
      CAST(h.n_pos + h.n_neg AS BIGINT) AS n_orders,
      CAST(h.n_pos AS BIGINT) AS n_pos,
      CAST(h.n_neg AS BIGINT) AS n_neg,
      CAST(lp.micro - ltp.micro - lnn.micro + ltn.micro AS BIGINT)
        AS woe_micro,
      CAST(h.n_pos * 1000000 // t.pos_tot
           - h.n_neg * 1000000 // t.neg_tot AS BIGINT) AS diff_ppm
    FROM h, t
    JOIN ln_tab lp ON lp.n = h.n_pos + 1
    JOIN ln_tab lnn ON lnn.n = h.n_neg + 1
    JOIN ln_tab ltp ON ltp.n = t.pos_tot + 10
    JOIN ln_tab ltn ON ltn.n = t.neg_tot + 10
    """


@query(
    "ml_woe_binning",
    oracle_builder=_woe_oracle,
    tags=("ml", "feature", "woe", "binning"),
)
def ml_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence feature binning — the credit-scoring /
    feature-selection primitive: bucket a numeric feature (order total
    price, fixed-width bins capped at 10), then score each bin by
    WOE = ln(P(bin|pos)) − ln(P(bin|neg)) for a binary target (urgent
    priority), plus the per-bin rate gap that feeds information value.

    Exactness (by construction): WOE decomposes into four
    lns of Laplace-smoothed INTEGER counts (+1 per bin, +10 = n_bins on
    totals). Those integers live in a <=22-value domain derived from the
    <=10-row histogram, so the micro-nat quantization round(1e6*ln(n))
    is computed ONCE in Python decimal arithmetic
    (functions/exactlog.py) and enters BOTH engines as integer literals
    — the Spark plan looks them up in a literal map, the oracle joins a
    literal VALUES table. No engine evaluates ln at all, which retires
    the JVM-vs-libm ulp boundary behind CORRECTNESS_r07's one flaky
    driver red on this query. The rate gap is pure integer floor
    division in ppm; bin assignment divides two doubles both engines
    hold bit-identically — one correctly-rounded IEEE divide, then
    floor.

    Scale shape: one map-side bin + label projection, one shuffle into a
    <=10-row histogram (two-phase hash agg), cached and collected
    (O(bins) driver state — the k-means-centroid collect class) to
    derive the literal table; the cached histogram then feeds the final
    projection, so the corpus is scanned exactly once. Feature
    cardinality never matters: bins are fixed-width arithmetic, not
    quantiles, so no global sort exists.
    """
    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_map,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.least(
            F.floor(F.col("o_totalprice") / 25000).cast("long"), F.lit(9)
        ).alias("bin"),
        (F.col("o_orderpriority") == "1-URGENT").alias("pos"),
    )
    h = o.groupBy("bin").agg(
        F.count(F.when(F.col("pos"), 1)).alias("n_pos"),
        F.count(F.when(~F.col("pos"), 1)).alias("n_neg"),
    ).cache()
    hist = h.collect()  # <=10 rows, exact integers — O(bins) driver state
    pos_tot = sum(r["n_pos"] for r in hist)
    neg_tot = sum(r["n_neg"] for r in hist)
    mp = micro_nat_map(
        {r["n_pos"] + 1 for r in hist}
        | {r["n_neg"] + 1 for r in hist}
        | {pos_tot + 10, neg_tot + 10}
    )
    t = h.agg(
        F.sum("n_pos").alias("pos_tot"), F.sum("n_neg").alias("neg_tot")
    )
    return h.crossJoin(F.broadcast(t)).select(
        F.col("bin").cast("long").alias("bin"),
        (F.col("n_pos") + F.col("n_neg")).cast("long").alias("n_orders"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (
            mp[(F.col("n_pos") + F.lit(1)).cast("long")]
            - mp[(F.col("pos_tot") + F.lit(10)).cast("long")]
            - mp[(F.col("n_neg") + F.lit(1)).cast("long")]
            + mp[(F.col("neg_tot") + F.lit(10)).cast("long")]
        ).alias("woe_micro"),
        (
            F.expr("n_pos * 1000000 DIV pos_tot")
            - F.expr("n_neg * 1000000 DIV neg_tot")
        ).alias("diff_ppm"),
    )
