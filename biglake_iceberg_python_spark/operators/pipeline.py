"""Training-data pipeline operators beyond per-query analytics (SURVEY.md
§2B [EXT]): duplicate-cluster resolution, deterministic sampling, and
token-budget sharding — the steps that sit between "near-dup pairs found"
and "training shards written" in a 100 TB corpus build.

No reference file:line exists for these (the reference executes no
analytics — SURVEY.md §2A); they are contract-mandated extensions, so the
Spark shape below IS the design:

  * connected components — pair list → duplicate CLUSTERS via iterative
    min-label propagation (O(diameter) shuffle rounds, each a short-key
    join; the classic alternative, large-star/small-star, has the same
    per-round shape). No driver-side graph: edges and labels stay
    DataFrames throughout; the only driver values are the convergence
    checksum and iteration count.
  * hash-stratified sampling — reproducible per-stratum rates from a
    content-independent hash bucket. Zero shuffles: pure map-side filter
    (the aggregate summary here shuffles only the 5-row per-lang rollup).
  * deterministic reservoir (top-k by hash per stratum) — fixed-size
    uniform sample per group as a window top-k: one shuffle on the stratum
    key, early-pruned by AQE; no RNG, so resized clusters and reruns pick
    identical rows.
  * token-budget sharding — global exclusive prefix-sum of token counts
    WITHOUT a single-partition window: per-range partial sums (tiny table)
    → windowed prefix over ranges → broadcast join back. This is the
    two-phase scan shape that survives 100 TB; a bare
    ``Window.orderBy(...)`` with no partitionBy would serialize the corpus
    through one task.

All four are bit-deterministic (md5 buckets, integer token counts) and
hash-checked against DuckDB oracles, including a WITH RECURSIVE transitive
closure for the component structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.operators.dedup import (
    NEAR_DUP_PAIRS_SQL,
    dedup_ngram_jaccard,
)
from biglake_iceberg_python_spark.functions.exprs import oracle_words, words
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

# Label propagation is O(cluster diameter) rounds; near-dup clusters are
# shallow (dup families, not social graphs), so this cap is generous.
_MAX_CC_ITERS = 20

# Per-mille keep rates per language stratum: downsample the dominant
# language, keep the tail. Mirrors corpus rebalancing in LLM data mixes.
_SAMPLE_PERMILLE = {"en": 250, "de": 600, "es": 600, "fr": 600, "zh": 600}
_SAMPLE_DEFAULT_PERMILLE = 500
_RESERVOIR_K = 8
_SHARD_TOKEN_BUDGET = 2048
# doc_id range width per prefix-sum bucket: contiguous doc_id intervals,
# so (bucket, doc_id) ordering == global doc_id ordering by construction.
_SHARD_BUCKET_WIDTH = 64


def _md5_bucket(col, salt: str, mod: int):
    """Deterministic uniform bucket in [0, mod): first 8 md5 hex digits of
    ``value:salt`` as an integer. DuckDB twin: ``('0x' || substr(md5(..),
    1, 8))::BIGINT % mod`` — both engines hash the UTF-8 bytes and emit
    lowercase hex, so buckets agree bit-for-bit."""
    hexpart = F.substring(F.md5(F.concat_ws(":", col.cast("string"), F.lit(salt))), 1, 8)
    return F.conv(hexpart, 16, 10).cast("long") % mod


def _oracle_md5_bucket(expr: str, salt: str, mod: int) -> str:
    return (
        f"('0x' || substr(md5(CAST({expr} AS VARCHAR) || ':{salt}'), 1, 8))"
        f"::BIGINT % {mod}"
    )


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node component labels by iterative min-label propagation over
    the near-dup pair graph (see dedup_connected_components for the full
    rationale); shared by the cluster rollup and the representative-
    selection query."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    sym = (
        edges.union(edges.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .localCheckpoint()  # pair-gen plan runs once, not once per round
    )
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint()

    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(_MAX_CC_ITERS):
        nbr = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"label propagation did not converge in {_MAX_CC_ITERS} rounds"
        )
    return labels


@query(
    "dedup_connected_components",
    # pairs/sym/lab MATERIALIZED (here and in
    # dedup_cluster_representative below): the near-dup pair
    # derivation is referenced twice via sym and sym twice via reach;
    # DuckDB's CTE inlining re-ran it per reference (measured
    # 4.9 s -> 0.7 s at sf0.1). Evaluation-strategy hint only,
    # mirroring the Spark side's localCheckpoint; reach stays plain
    # (it is the recursion).
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({NEAR_DUP_PAIRS_SQL}),
    sym AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM sym
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON s.src = r.b
    ),
    lab AS MATERIALIZED (SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a)
    SELECT
      CAST(label AS BIGINT) AS component_id,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      CAST(COUNT(*) - 1 AS BIGINT) AS n_removed,
      string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
    FROM lab GROUP BY label
    """,
    tags=("llm", "dedup", "graph", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters from near-dup pairs: connected components by
    iterative min-label propagation, one canonical keeper per cluster.

    Near-dup detection yields PAIRS; dedup must drop transitive families
    (A~B, B~C ⇒ {A,B,C} is one cluster even if A≁C). Each round joins the
    symmetric edge list with current labels and takes the per-node min —
    labels fall monotonically to the component minimum in ≤ diameter
    rounds. Convergence is detected by the label-sum checksum going flat
    (monotone ⇒ sum strictly decreases until fixpoint), one scalar action
    per round. ``localCheckpoint`` truncates the per-round lineage so the
    plan does not grow with iteration count.

    Oracle: DuckDB WITH RECURSIVE transitive closure over the same pairs —
    the structural ground truth the propagation must reproduce exactly.
    """
    labels = _cc_labels(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("component_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - F.lit(1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("node")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members"),
    )


_PERMILLE_CASE_ARMS = " ".join(
    "WHEN '%s' THEN %d" % kv for kv in _SAMPLE_PERMILLE.items()
)


@query(
    "sample_hash_stratified",
    oracle=f"""
    WITH tagged AS (
      SELECT
        lang, n_chars,
        {_oracle_md5_bucket("doc_id", "strat", 1000)} AS bucket,
        CASE lang
          {_PERMILLE_CASE_ARMS}
          ELSE {_SAMPLE_DEFAULT_PERMILLE} END AS permille
      FROM documents
    )
    SELECT
      lang,
      CAST(COUNT(*) AS BIGINT) AS n_total,
      CAST(COUNT(*) FILTER (WHERE bucket < permille) AS BIGINT) AS n_sampled,
      CAST(COALESCE(SUM(n_chars) FILTER (WHERE bucket < permille), 0)
           AS BIGINT) AS sampled_chars
    FROM tagged GROUP BY lang
    """,
    tags=("llm", "sampling"),
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified downsampling by hash bucket: keep a doc iff
    md5-bucket(doc_id) falls under its language's per-mille rate.

    The hash-bucket filter is the 100 TB sampling primitive: content- and
    order-independent, so any worker (or a later rerun, or a different
    engine) makes the identical keep/drop decision with no RNG state, no
    seed plumbing, and zero shuffles — it composes with partition pruning
    and pushes down as a plain filter. Rates are per-stratum to rebalance
    the language mix, the usual LLM-corpus shaping step.
    """
    d = load_table(spark, sf_dir, "documents")
    permille = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in _SAMPLE_PERMILLE.items()
        ],
        F.lit(_SAMPLE_DEFAULT_PERMILLE),
    )
    tagged = d.select(
        "lang",
        "n_chars",
        (_md5_bucket(F.col("doc_id"), "strat", 1000) < permille).alias("keep"),
    )
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("keep"), 1)).alias("n_sampled"),
        F.coalesce(
            F.sum(F.when(F.col("keep"), F.col("n_chars"))), F.lit(0)
        ).alias("sampled_chars"),
    )


@query(
    "sample_reservoir_pergroup",
    oracle=f"""
    WITH ranked AS (
      SELECT
        lang, doc_id,
        ROW_NUMBER() OVER (
          PARTITION BY lang
          ORDER BY md5(CAST(doc_id AS VARCHAR) || ':rsv'), doc_id
        ) AS rk
      FROM documents
    )
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_RESERVOIR_K}
    """,
    tags=("llm", "sampling", "window"),
)
def sample_reservoir_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per stratum — reservoir sampling
    re-expressed deterministically as top-k by hash order.

    Ordering each stratum by md5(doc_id) is a uniform random permutation
    with no RNG: the first k rows are a simple random sample, identical
    across reruns, partitionings, and engines. One shuffle on the stratum
    key; rank pruning happens before anything wide. (A sequential
    reservoir would serialize the scan — hash-rank is how you do it on a
    cluster.)
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":rsv"))),
        "doc_id",
    )
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _RESERVOIR_K)
        .withColumn("rk", F.col("rk").cast("long"))
    )


@query(
    "pack_token_shards",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({oracle_words()}) AS n_tok
      FROM documents
    ), o AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS off
      FROM t
    )
    SELECT
      CAST(off // {_SHARD_TOKEN_BUDGET} AS BIGINT) AS shard_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
      CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM o GROUP BY 1
    """,
    tags=("llm", "sharding", "prefix-sum"),
)
def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the corpus into fixed token-budget training shards: global
    exclusive prefix-sum of per-doc token counts in doc_id order, shard =
    offset DIV budget.

    The prefix-sum is two-phase, never a global single-partition window:
    (1) bucket docs by contiguous doc_id range and window-cumsum WITHIN
    each bucket (parallel, partitioned); (2) window the per-bucket totals
    — a table with one row per bucket, thousands of rows at 100 TB, not
    billions — into bucket base offsets, broadcast-joined back. Offsets
    are integers, so this is exact and engine-independent; the oracle is
    the naive global window DuckDB can afford at test scale.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(words("text")).alias("n_tok"),
        (F.col("doc_id") / _SHARD_BUCKET_WIDTH).cast("long").alias("bucket"),
    )
    within = F.coalesce(
        F.sum("n_tok").over(
            Window.partitionBy("bucket")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    t = t.withColumn("within_off", within)
    bucket_base = (
        t.groupBy("bucket")
        .agg(F.sum("n_tok").alias("bucket_tok"))
        .withColumn(
            "base",
            F.coalesce(
                F.sum("bucket_tok").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "base")
    )
    packed = t.join(F.broadcast(bucket_base), "bucket").select(
        "doc_id",
        "n_tok",
        (F.col("base") + F.col("within_off")).alias("off"),
    )
    return packed.groupBy(
        F.expr(f"CAST(off DIV {_SHARD_TOKEN_BUDGET} AS BIGINT)").alias("shard_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_MIN_TOKENS = 20


@query(
    "pipeline_corpus_build",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             {oracle_words()} AS ws
      FROM documents
    ), q AS (
      SELECT doc_id, lang, len(ws) AS n_tok,
             md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS fp
      FROM tok WHERE len(ws) >= {_MIN_TOKENS}
    ), kept AS (
      SELECT doc_id, lang, n_tok,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS dup_rk
      FROM q
    ), sampled AS (
      SELECT doc_id, n_tok FROM kept
      WHERE dup_rk = 1
        AND {_oracle_md5_bucket("doc_id", "strat", 1000)} <
              CASE lang {_PERMILLE_CASE_ARMS}
                   ELSE {_SAMPLE_DEFAULT_PERMILLE} END
    ), o AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS off
      FROM sampled
    )
    SELECT
      CAST(off // {_SHARD_TOKEN_BUDGET} AS BIGINT) AS shard_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
      CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM o GROUP BY 1
    """,
    tags=("llm", "pipeline", "composite"),
)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-build pipeline as ONE declarative dataflow: quality
    filter (min token count) → exact dedup on a bag-of-words fingerprint
    (min doc_id kept per family) → hash-stratified language rebalancing →
    token-budget shard packing. What a 100 TB training-data build actually
    runs, end to end, with every stage deterministic and the whole chain
    hash-checked against a single DuckDB oracle.

    Stage shapes (each individually plan-tested elsewhere): the filter and
    fingerprint are map-side; dedup is one shuffle on the fingerprint; the
    sample filter is shuffle-free (md5 bucket vs per-lang rate); packing is
    the two-phase prefix-sum (partitioned cumsum + tiny bucket-base
    broadcast). Catalyst pipelines the whole thing — intermediate corpora
    never materialize.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = words("text")
    q = d.select(
        "doc_id",
        "lang",
        F.size(ws).alias("n_tok"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(ws)), " ")).alias(
            "fp"
        ),
    ).filter(F.col("n_tok") >= _MIN_TOKENS)
    kept = (
        q.withColumn(
            "dup_rk",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .filter(F.col("dup_rk") == 1)
    )
    permille = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in _SAMPLE_PERMILLE.items()
        ],
        F.lit(_SAMPLE_DEFAULT_PERMILLE),
    )
    sampled = kept.filter(
        _md5_bucket(F.col("doc_id"), "strat", 1000) < permille
    ).select(
        "doc_id",
        "n_tok",
        (F.col("doc_id") / _SHARD_BUCKET_WIDTH).cast("long").alias("bucket"),
    )
    within = F.coalesce(
        F.sum("n_tok").over(
            Window.partitionBy("bucket")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    t = sampled.withColumn("within_off", within)
    bucket_base = (
        t.groupBy("bucket")
        .agg(F.sum("n_tok").alias("bucket_tok"))
        .withColumn(
            "base",
            F.coalesce(
                F.sum("bucket_tok").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "base")
    )
    packed = t.join(F.broadcast(bucket_base), "bucket").select(
        "doc_id",
        "n_tok",
        (F.col("base") + F.col("within_off")).alias("off"),
    )
    return packed.groupBy(
        F.expr(f"CAST(off DIV {_SHARD_TOKEN_BUDGET} AS BIGINT)").alias(
            "shard_id"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_PAD_QUANT = 64  # sequence-length bucket width (tokens)


@query(
    "pack_padding_waste",
    oracle=f"""
    WITH t AS (
      SELECT
        len({oracle_words()}) AS n_tok
      FROM documents
    ), b AS (
      SELECT
        n_tok,
        CAST(ceil(CAST(n_tok AS DOUBLE) / {_PAD_QUANT}) AS BIGINT)
          * {_PAD_QUANT} AS bucket_len
      FROM t WHERE n_tok > 0
    )
    SELECT
      bucket_len,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
      CAST(SUM(bucket_len - n_tok) AS BIGINT) AS padding_tokens,
      CAST(SUM(bucket_len - n_tok) AS DOUBLE) / (COUNT(*) * bucket_len)
        AS waste_frac
    FROM b GROUP BY bucket_len
    """,
    tags=("llm", "pipeline", "batching", "padding"),
)
def pack_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-aware batching analysis: bucket documents by padded sequence
    length (next multiple of {_PAD_QUANT} tokens) and account the padding
    tokens each bucket would burn — the compute-waste metric that decides
    between naive batching, length-bucketed batching, and full sequence
    packing (pack_token_shards is the zero-waste endpoint of that
    spectrum). waste_frac per bucket is exactly the fraction of FLOPs a
    trainer would spend on pad tokens at that length.

    Pure map-side integer arithmetic (ceil on an exact division, integer
    sums) plus one bucket-keyed rollup — the same one-pass shape as every
    corpus statistic here.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(words("text"))
    b = d.select(n_tok.alias("n_tok")).filter(F.col("n_tok") > 0).select(
        "n_tok",
        (
            F.ceil(F.col("n_tok").cast("double") / _PAD_QUANT) * _PAD_QUANT
        ).cast("long").alias("bucket_len"),
    )
    return b.groupBy("bucket_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("real_tokens"),
        F.sum(F.col("bucket_len") - F.col("n_tok"))
        .cast("long")
        .alias("padding_tokens"),
        (
            F.sum(F.col("bucket_len") - F.col("n_tok")).cast("double")
            / (F.count(F.lit(1)) * F.col("bucket_len"))
        ).alias("waste_frac"),
    )


@query(
    "dedup_cluster_representative",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({NEAR_DUP_PAIRS_SQL}),
    sym AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM sym
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON s.src = r.b
    ),
    lab AS MATERIALIZED (SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a),
    scored AS (
      SELECT l.label, l.node, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY l.label
                                ORDER BY d.n_chars DESC, l.node) AS rk
      FROM lab l JOIN documents d ON d.doc_id = l.node
    )
    SELECT
      CAST(label AS BIGINT) AS component_id,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      CAST(MIN(CASE WHEN rk = 1 THEN node END) AS BIGINT) AS keep_doc_id,
      CAST(MIN(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS keep_n_chars,
      CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT)
        AS chars_removed
    FROM scored GROUP BY label
    """,
    tags=("llm", "dedup", "graph", "iterative", "representative"),
)
def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per duplicate cluster: dedup policy is
    not just WHICH docs are duplicates (dedup_connected_components) but
    WHICH COPY SURVIVES — here the longest document (richest version of
    the duplicated content, the common corpus-construction choice), with
    doc_id as the deterministic tiebreak, plus the bytes a drop of the
    rest reclaims. Swapping the ORDER BY swaps the policy (lowest
    perplexity, newest crawl, preferred domain) without touching the
    cluster machinery.

    Clusters come from the shared iterative label propagation
    (_cc_labels); the selection itself is one window over the cluster-
    labeled doc list — O(cluster members), never corpus-wide. The oracle
    extends the recursive-closure ground truth with the same argmax.
    """
    from biglake_iceberg_python_spark.sources.tables import load_table as _lt

    labels = _cc_labels(spark, sf_dir)
    d = _lt(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = labels.join(d, labels.node == d.doc_id).select(
        "label", "node", "n_chars"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(
        F.col("n_chars").desc(), F.col("node")
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy(F.col("label").alias("component_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.when(F.col("rk") == 1, F.col("node")))
        .cast("long")
        .alias("keep_doc_id"),
        F.min(F.when(F.col("rk") == 1, F.col("n_chars")))
        .cast("long")
        .alias("keep_n_chars"),
        F.coalesce(
            F.sum(F.when(F.col("rk") > 1, F.col("n_chars"))), F.lit(0)
        )
        .cast("long")
        .alias("chars_removed"),
    )


# Span corruption (T5-style denoising objective prep): one masked span per
# document, length fixed, start position drawn deterministically from the
# md5 bucket of the doc id — no RNG, so the (input, target) pairs are
# bit-identical across engines, reruns, and cluster sizes.
_SPAN_LEN = 5
_SPAN_SENTINEL = "<extra_id_0>"


@query(
    "pack_span_corruption",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             {oracle_words()} AS w
      FROM documents
    ), sized AS (
      SELECT doc_id, w, len(w) AS n FROM base WHERE len(w) > {_SPAN_LEN}
    ), placed AS (
      SELECT doc_id, w, n,
             1 + ({_oracle_md5_bucket("doc_id", "span", 10 ** 9)}
                  % (n - {_SPAN_LEN})) AS s
      FROM sized
    )
    SELECT
      doc_id,
      CAST(s AS BIGINT) AS span_start,
      CAST(n AS BIGINT) AS n_words,
      array_to_string(
        list_concat(list_concat(w[1:s - 1], ['{_SPAN_SENTINEL}']),
                    w[s + {_SPAN_LEN}:n]),
        ' ') AS input_text,
      array_to_string(w[s:s + {_SPAN_LEN} - 1], ' ') AS target_text
    FROM placed
    """,
    tags=("llm", "packing", "denoising"),
)
def pack_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption training pairs (T5/UL2 denoising prep): mask one
    {L}-word span per document behind a sentinel token, emitting the
    corrupted input and the span as the target.

    The span start comes from the md5 bucket of the doc id — deterministic
    pseudo-randomness, the same no-RNG discipline as shard assignment —
    and the split/slice/join chain is pure array codegen, so every
    (input, target) pair hash-matches the oracle. Zero shuffles: this is a
    map over the scan, exactly what a 100 TB objective-prep pass must be.
    """
    d = load_table(spark, sf_dir, "documents")
    w = words("text")
    sized = d.select("doc_id", w.alias("w"), F.size(w).alias("n")).filter(
        F.col("n") > _SPAN_LEN
    )
    placed = sized.select(
        "doc_id",
        "w",
        "n",
        (
            F.lit(1)
            + _md5_bucket(F.col("doc_id"), "span", 10 ** 9)
            % (F.col("n") - _SPAN_LEN)
        ).alias("s"),
    )
    s = F.col("s")
    prefix = F.slice("w", F.lit(1), s - 1)
    target = F.slice("w", s, F.lit(_SPAN_LEN))
    suffix = F.slice("w", s + _SPAN_LEN, F.col("n") - s - _SPAN_LEN + 1)
    return placed.select(
        "doc_id",
        s.cast("long").alias("span_start"),
        F.col("n").cast("long").alias("n_words"),
        F.array_join(
            F.concat(prefix, F.array(F.lit(_SPAN_SENTINEL)), suffix), " "
        ).alias("input_text"),
        F.array_join(target, " ").alias("target_text"),
    )


_EXPJ_K = 5  # winners per language stratum


@query(
    "sample_weighted_expj",
    oracle=f"""
    WITH keyed AS (
      SELECT
        lang, doc_id, n_chars,
        -- Efraimidis–Spirakis key: u^(1/w) ranks samples by weight; we
        -- order by ln(u)/w (monotone equivalent, no overflow) with u a
        -- deterministic md5-derived uniform in (0, 1]
        ln((1.0 + {_oracle_md5_bucket("doc_id", "expj", 10 ** 9)})
           / 1000000000.0) / n_chars AS es_key
      FROM documents
    ), ranked AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rk
      FROM keyed
    )
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_EXPJ_K}
    """,
    tags=("llm", "sampling", "weighted"),
)
def sample_weighted_expj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, RNG-free: the
    Efraimidis–Spirakis exponential-keys scheme (each item ranked by
    u^(1/w)) with the uniform u derived from an md5 bucket of the doc id —
    so a length-weighted top-{k} per language is reproducible across
    engines, reruns, and cluster sizes, unlike rand()-seeded sampling
    whose draws depend on partition layout.

    The key is computed as ln(u)/w (monotone in u^(1/w), no pow
    underflow); heavier documents need a worse uniform to lose, giving
    exact probability-proportional-to-size semantics in one pass. Plan:
    map-side key + per-stratum top-k window — the same single-exchange
    shape as `sample_reservoir_pergroup`, now weight-aware.

    (The ln of a rational md5 uniform is irrational — the documented
    measure-zero exemption — but here ln feeds an ORDERING, not a
    quantized sum, so even a ulp of libm drift cannot flip a rank except
    at exact key ties, which the doc_id tiebreak owns.)
    """
    d = load_table(spark, sf_dir, "documents")
    u = (F.lit(1.0) + _md5_bucket(F.col("doc_id"), "expj", 10 ** 9)) / F.lit(
        1_000_000_000.0
    )
    keyed = d.select(
        "lang",
        "doc_id",
        "n_chars",
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _EXPJ_K)
        .select("lang", "doc_id", F.col("n_chars").cast("long").alias("n_chars"), F.col("rk").cast("long").alias("rk"))
    )


_PACK_CTX = 128  # context-window token budget per packed bin


@query(
    "pack_length_pair_binning",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len({oracle_words()})
               AS BIGINT) AS n_tok
      FROM documents
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
    ), r AS (
      SELECT doc_id, n_tok,
             ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) AS rd
      FROM d
    ), p AS (
      SELECT a.n_tok AS ta, b.n_tok AS tb
      FROM r a JOIN r b CROSS JOIN n
        ON b.rd = n.n + 1 - a.rd AND a.rd < b.rd
    ), mid AS (
      SELECT r.n_tok FROM r CROSS JOIN n WHERE 2 * r.rd = n.n + 1
    ), bins AS (
      SELECT CASE WHEN ta + tb <= {_PACK_CTX} THEN 1 ELSE 2 END AS nb,
             CASE WHEN ta + tb <= {_PACK_CTX} THEN 1 ELSE 0 END AS np,
             CASE WHEN ta + tb <= {_PACK_CTX}
                  THEN {_PACK_CTX} - ta - tb
                  ELSE GREATEST(0, {_PACK_CTX} - ta)
                     + GREATEST(0, {_PACK_CTX} - tb) END AS waste,
             ta + tb AS toks
      FROM p
      UNION ALL
      SELECT 1, 0, GREATEST(0, {_PACK_CTX} - n_tok), n_tok FROM mid
    )
    SELECT
      (SELECT n FROM n) AS n_docs,
      CAST(SUM(nb) AS BIGINT) AS n_bins,
      CAST(SUM(np) AS BIGINT) AS n_paired_bins,
      CAST(SUM(nb) - SUM(np) AS BIGINT) AS n_singletons,
      CAST(SUM(toks) AS BIGINT) AS total_tokens,
      CAST(SUM(waste) AS BIGINT) AS total_waste,
      CAST(SUM(waste) * 1000000 // (SUM(nb) * {_PACK_CTX}) AS BIGINT)
        AS waste_ppm
    FROM bins
    """,
    tags=("llm", "pack", "binning", "training"),
)
def pack_length_pair_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-aware sample packing by MIRRORED-RANK PAIRING: rank documents
    by token length descending, pair the i-th longest with the i-th
    shortest, and pack each pair into one {_PACK_CTX}-token context window
    when it fits (else both go alone) — the one-shot approximation of
    sorted two-pointer packing that every distributed packing pipeline
    uses, because the pairing is a FIXED function of rank (no sequential
    pointer state) yet captures the same long+short complementarity.
    Output is the packing economics: bins, pair rate, and padding waste
    ppm against the bin budget.

    The global length rank is computed WITHOUT a SinglePartition window
    over documents — the pack_token_shards two-phase trick applied to
    ranking: per-length group sizes (a map-side-combined rollup to the
    tiny distinct-lengths table) take an exclusive prefix sum over that
    SMALL table, and each doc's rank = its length-class offset + its
    within-class ROW_NUMBER (a window keyed on n_tok, ordinary hash
    partitioning). The mirror pairing is then one equi-join of rank
    against n+1−rank. The oracle uses a plain global ROW_NUMBER — same
    total order (n_tok DESC, doc_id), bit-identical ranks. Everything
    downstream is exact integer arithmetic.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(words("text"))
        .cast("long")
        .alias("n_tok"),
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # two-phase global rank: distinct-lengths table is tiny, so the
    # unpartitioned window below it is bounded (documented at
    # pack_token_shards for the same shape).
    g = d.groupBy("n_tok").agg(F.count(F.lit(1)).alias("n_g"))
    cum = g.select(
        "n_tok",
        (
            F.coalesce(
                F.sum("n_g").over(
                    Window.orderBy(F.col("n_tok").desc()).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).alias("offset"),
    )
    within = Window.partitionBy("n_tok").orderBy("doc_id")
    r = (
        d.join(F.broadcast(cum), "n_tok")
        .select(
            "doc_id",
            "n_tok",
            (F.col("offset") + F.row_number().over(within)).alias("rd"),
        )
        .crossJoin(F.broadcast(n))
        .localCheckpoint(eager=False)
    )
    a = r.select(
        F.col("n_tok").alias("ta"),
        F.col("rd").alias("ra"),
        (F.col("n") + 1 - F.col("rd")).alias("mirror"),
    ).filter(F.col("ra") < F.col("mirror"))
    b = r.select(F.col("n_tok").alias("tb"), F.col("rd").alias("rb"))
    p = a.join(b, F.col("mirror") == F.col("rb"))
    c = _PACK_CTX
    pair_bins = p.select(
        F.when(F.col("ta") + F.col("tb") <= c, 1).otherwise(2).alias("nb"),
        F.when(F.col("ta") + F.col("tb") <= c, 1).otherwise(0).alias("np"),
        F.when(
            F.col("ta") + F.col("tb") <= c,
            F.lit(c) - F.col("ta") - F.col("tb"),
        )
        .otherwise(
            F.greatest(F.lit(0), F.lit(c) - F.col("ta"))
            + F.greatest(F.lit(0), F.lit(c) - F.col("tb"))
        )
        .alias("waste"),
        (F.col("ta") + F.col("tb")).alias("toks"),
    )
    mid_bins = (
        r.filter(2 * F.col("rd") == F.col("n") + 1)
        .select(
            F.lit(1).alias("nb"),
            F.lit(0).alias("np"),
            F.greatest(F.lit(0), F.lit(c) - F.col("n_tok")).alias("waste"),
            F.col("n_tok").alias("toks"),
        )
    )
    bins = pair_bins.unionAll(mid_bins)
    # Empty corpus: bins is empty so MAX(n) is NULL, but the oracle's
    # scalar-subquery n_docs is the COUNT, 0 — coalesce (exact: bins is
    # empty iff documents is, since any doc yields a pair or mid bin).
    return bins.crossJoin(F.broadcast(n)).agg(
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("n_docs"),
        F.sum("nb").cast("long").alias("n_bins"),
        F.sum("np").cast("long").alias("n_paired_bins"),
        (F.sum("nb") - F.sum("np")).cast("long").alias("n_singletons"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum("waste").cast("long").alias("total_waste"),
        F.expr(
            f"CAST(SUM(waste) * 1000000 DIV (SUM(nb) * {c}) AS BIGINT)"
        ).alias("waste_ppm"),
    )
