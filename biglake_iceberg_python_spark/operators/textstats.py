"""Text analysis for LLM training-data pipelines (SURVEY.md §2B [EXT]):
quality scoring, language ID, token counting, document fingerprinting.

Every operator is pure codegen SQL expressions over the ``documents`` table
— no Python in the hot path — so each runs at full scan speed and is
oracle-checkable. At 100 TB these are one-pass map-side computations with a
single small aggregation shuffle.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    adjacent_pairs,
    davg,
    dsum,
    oracle_davg,
    oracle_words,
    words,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_SQL = "', '".join(_STOPWORDS)

# Tiny per-language marker lexicons for the heuristic language scorer.
_LANG_MARKERS = {
    "en": ("the", "fast", "key"),
    "es": ("data", "valor", "tabla"),
    "de": ("der", "schnell", "wert"),
    "fr": ("le", "vite", "valeur"),
    "zh": ("shu", "ju", "biao"),
}


@query(
    "text_quality_stats",
    oracle=f"""
    WITH per_doc AS (
      SELECT
        lang,
        len({oracle_words()}) AS n_words,
        length(text) AS n_chars_actual,
        length(text) - length(replace(text, ' ', '')) AS n_spaces,
        len(list_filter({oracle_words()}, x -> x IN ('{_STOP_SQL}'))) AS n_stop
      FROM documents
    )
    SELECT
      lang,
      COUNT(*) AS n_docs,
      {oracle_davg('n_words')} AS avg_words,
      {oracle_davg('CAST(n_chars_actual AS DOUBLE) / NULLIF(n_words, 0)')} AS avg_chars_per_word,
      {oracle_davg('CAST(n_stop AS DOUBLE) / NULLIF(n_words, 0)')} AS avg_stopword_ratio,
      CAST(MIN(n_words) AS BIGINT) AS min_words,
      CAST(MAX(n_words) AS BIGINT) AS max_words
    FROM per_doc
    GROUP BY lang
    """,
    tags=("llm", "text", "quality"),
    bench=True,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score features per language: word counts, chars/word,
    stopword ratio — the standard cheap filters before expensive pipeline
    stages. One pass, one 5-group shuffle.

    Empty/NULL documents (n_words = 0) contribute NULL ratios via NULLIF on
    both engines — under Spark's default ANSI mode a bare division would ABORT
    the whole job on the first empty doc (real corpora always contain some),
    while DuckDB would return inf; NULLIF makes both engines skip those rows in
    the ratio sums identically. The ratio means divide by the count of DEFINED
    ratios, not n_docs (oracle_davg's COUNT(expr) skips NULLs; a COUNT(*)
    denominator would deflate both averages on any corpus with empty docs):
    "mean chars-per-word among docs that have words" is also the statistic a
    quality filter actually wants.
    """
    d = load_table(spark, sf_dir, "documents")
    w = words()
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    per_doc = d.select(
        "lang",
        F.size(w).alias("n_words"),
        F.length("text").alias("n_chars_actual"),
        F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).alias("n_stop"),
    )
    nw_nz = F.nullif(F.col("n_words"), F.lit(0))
    cpw = F.col("n_chars_actual").cast("double") / nw_nz
    swr = F.col("n_stop").cast("double") / nw_nz
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (dsum("n_words") / F.count(F.lit(1))).alias("avg_words"),
        davg(cpw, "avg_chars_per_word"),
        davg(swr, "avg_stopword_ratio"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
    )


def _lang_score_sql(lang: str) -> str:
    m = "', '".join(_LANG_MARKERS[lang])
    return f"len(list_filter({oracle_words()}, x -> x IN ('{m}')))"


@query(
    "text_langid",
    oracle=f"""
    WITH scored AS (
      SELECT
        lang AS actual_lang,
        CASE
          WHEN {_lang_score_sql('en')} >= {_lang_score_sql('de')}
           AND {_lang_score_sql('en')} > 0 THEN 'en'
          WHEN {_lang_score_sql('de')} > 0 THEN 'de'
          ELSE 'unknown'
        END AS predicted_lang
      FROM documents
    )
    SELECT actual_lang, predicted_lang, COUNT(*) AS n_docs
    FROM scored
    GROUP BY actual_lang, predicted_lang
    """,
    tags=("llm", "text", "langid"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: score each doc against tiny marker lexicons,
    emit the confusion matrix vs the labeled lang column.

    (The synthetic corpus shares one vocabulary across langs, so the
    heuristic mostly answers 'en' — the operator under test is the scoring/
    argmax machinery, which is what a real fastText-style scorer would
    replace per-row. Pure codegen, no UDF.)
    """
    d = load_table(spark, sf_dir, "documents")
    w = words()

    def score(lang: str) -> Column:
        markers = F.array(*[F.lit(s) for s in _LANG_MARKERS[lang]])
        return F.size(F.filter(w, lambda x: F.array_contains(markers, x)))

    predicted = (
        F.when((score("en") >= score("de")) & (score("en") > 0), "en")
        .when(score("de") > 0, "de")
        .otherwise("unknown")
    )
    return (
        d.select(F.col("lang").alias("actual_lang"), predicted.alias("predicted_lang"))
        .groupBy("actual_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "text_token_count",
    oracle=rf"""
    SELECT
      source,
      CAST(SUM(len({oracle_words()}))
        AS BIGINT) AS ws_tokens,
      CAST(SUM(len(regexp_extract_all(COALESCE(text, ''),
                                      '[a-z]+|[0-9]+|[^a-z0-9 ]')))
        AS BIGINT) AS bpe_ish_tokens,
      CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
    tags=("llm", "text", "tokens"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    lexer (letter runs / digit runs / single punctuation) — the standard
    pre-tokenizer shape. regexp_extract_all stays JVM-side. The lexer input
    coalesces NULL text to '' on both engines (Spark's
    size(regexp_extract_all(NULL)) is -1 with ANSI off —
    each NULL doc would silently SUBTRACT one token from its source)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(words())).cast("long").alias("ws_tokens"),
        F.sum(
            F.size(
                F.regexp_extract_all(
                    F.coalesce(F.col("text"), F.lit("")),
                    F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"),
                    0,
                )
            )
        )
        .cast("long")
        .alias("bpe_ish_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT
        doc_id,
        unnest({oracle_words()}) AS word,
        generate_subscripts({oracle_words()}, 1)
          AS pos
      FROM documents
    ), fp AS (
      SELECT
        doc_id,
        CAST(SUM(pos * ascii(word) * length(word)) AS BIGINT) AS fingerprint
      FROM toks GROUP BY doc_id
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT fingerprint) AS BIGINT) AS n_distinct_fp,
      CAST(MIN(fingerprint) AS BIGINT) AS min_fp,
      CAST(MAX(fingerprint) AS BIGINT) AS max_fp
    FROM fp
    """,
    tags=("llm", "text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: Σ pos·ascii(word₀)·len(word)
    over tokens — a rolling-hash-style signature that distinguishes
    reordered token sequences (unlike bag-of-words hashes), expressible as
    exact integer arithmetic in any engine.

    posexplode keeps positions; integer sums are order-independent in
    aggregation, so the same doc fingerprints identically on any cluster.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(words()).alias("pos0", "word")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),  # align with 1-based subscripts
        "word",
    )
    fp = toks.groupBy("doc_id").agg(
        F.sum(
            F.col("pos") * F.ascii("word") * F.length("word")
        ).cast("long").alias("fingerprint")
    )
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fingerprint").alias("n_distinct_fp"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
    )


_TFIDF_DF_SQL = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
        unnest({oracle_words()}) AS word
      FROM {{documents}}
    ), df AS (
      SELECT word, COUNT(*) AS doc_freq FROM toks GROUP BY word
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM {{documents}}
    )
"""


def _tfidf_oracle(sf_dir: str) -> str:
    """Data-dependent oracle (the ml_woe_binning pattern, rational
    arguments): DuckDB rebuilds the doc-frequency table itself; each
    idf = ln(n_docs/df) micro-nat enters as a Python-decimal literal
    (functions/exactlog.py micro_nat_ratio) keyed on the doc-frequency —
    a Zipf-collapsed distinct-value domain, vocab-bounded. No ln runs in
    either engine."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_ratio,
    )

    con = duckdb.connect()
    body = _TFIDF_DF_SQL.format(
        documents=f"read_parquet('{sf_dir}/documents.parquet')"
    )
    dfs = [r[0] for r in con.execute(
        body + " SELECT DISTINCT doc_freq FROM df"
    ).fetchall()]
    n_docs = con.execute(
        body + " SELECT n_docs FROM n"
    ).fetchone()[0]
    con.close()
    rows = [
        f"(CAST({d} AS BIGINT), CAST({micro_nat_ratio(n_docs, d)} AS BIGINT))"
        for d in sorted(dfs)
    ] or ["(CAST(-1 AS BIGINT), CAST(0 AS BIGINT))"]
    body = _TFIDF_DF_SQL.format(documents="documents")
    return f"""
    {body},
    idf_tab(dfreq, micro) AS (VALUES {", ".join(rows)})
    SELECT
      word,
      doc_freq,
      it.micro AS idf_micro
    FROM df JOIN idf_tab it ON it.dfreq = df.doc_freq
    ORDER BY idf_micro DESC, word
    LIMIT 15
    """


@query(
    "text_tfidf_top_terms",
    oracle_builder=_tfidf_oracle,
    tags=("llm", "text", "tfidf"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF table: distinct (doc, word) postings → doc-frequency → ln(N/df),
    top-15 most distinctive terms. The distributed shape of TF-IDF: both
    stages are partial-aggregated; the idf values join back from a
    broadcast literal table.

    Exactness (by construction, the ml_woe_binning pattern with
    RATIONAL arguments): idf = ln(n_docs/doc_freq) is an integer
    micro-nat computed once in Python decimal arithmetic
    (functions/exactlog.py micro_nat_ratio) over the collected
    DISTINCT-doc-frequency domain (Zipf-collapsed, ≪ vocab) and inlined
    into both engines as a broadcast literal join / VALUES join — no ln
    runs anywhere, retiring this query's raw-round lint exemption.

    Scale shape: the doc-frequency table is TYPE-level and cached; one
    collect of its distinct doc-freq values (bounded) plus the doc count
    derive the literal table, then the cached copy feeds the top-15
    TakeOrdered — the corpus posting explode runs exactly once.
    """
    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_ratio,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(words()).alias("word")).distinct()
    df_tbl = toks.groupBy("word").agg(
        F.count(F.lit(1)).alias("doc_freq")
    ).cache()
    dfs = [r["doc_freq"] for r in df_tbl.select("doc_freq").distinct().collect()]
    n_docs = d.count()
    idf_tab = spark.createDataFrame(
        [(f, micro_nat_ratio(n_docs, f)) for f in sorted(dfs)] or [(-1, 0)],
        "doc_freq long, idf_micro long",
    )
    return (
        df_tbl.join(F.broadcast(idf_tab), "doc_freq")
        .select("word", "doc_freq", "idf_micro")
        .orderBy(F.col("idf_micro").desc(), "word")
        .limit(15)
    )


_BIGRAM_MODEL_SQL = f"""
    WITH t AS (
      SELECT doc_id, {oracle_words()} AS ws
      FROM {{documents}}
    ), ti AS (
      SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t
    ), b AS (
      SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM ti
    ), c12 AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1
    ), v AS (
      SELECT COUNT(DISTINCT w2) AS vsz FROM c12
    )
"""


def _lm_perplexity_oracle(sf_dir: str) -> str:
    """Data-dependent oracle (the ml_woe_binning pattern): DuckDB rebuilds
    the bigram model itself; the two surprisal terms ln(c1+V) and
    ln(c12+1) enter as Python-decimal micro-nat literals keyed on the
    Zipf-collapsed distinct-count domains — no ln runs in either engine,
    retiring this query's raw-round lint exemption."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_shift_pairs,
        micro_nat_shift_values_sql,
    )

    con = duckdb.connect()
    body = _BIGRAM_MODEL_SQL.format(
        documents=f"read_parquet('{sf_dir}/documents.parquet')"
    )
    c12s = [r[0] for r in con.execute(
        body + " SELECT DISTINCT c12 FROM c12"
    ).fetchall()]
    c1s = [r[0] for r in con.execute(
        body + " SELECT DISTINCT c1 FROM c1"
    ).fetchall()]
    vsz = con.execute(body + " SELECT vsz FROM v").fetchone()[0] or 0
    con.close()
    ln12 = micro_nat_shift_values_sql(micro_nat_shift_pairs(c12s, 1))
    ln1 = micro_nat_shift_values_sql(micro_nat_shift_pairs(c1s, vsz))
    body = _BIGRAM_MODEL_SQL.format(documents="documents")
    return f"""
    {body},
    ln12_tab(cv, micro) AS (VALUES {ln12}),
    ln1_tab(cv, micro) AS (VALUES {ln1}),
    s AS (
      SELECT c12.w1, c12.w2, l1.micro - l12.micro AS smicro
      FROM c12
      JOIN c1 USING (w1)
      JOIN ln12_tab l12 ON l12.cv = c12.c12
      JOIN ln1_tab l1 ON l1.cv = c1.c1
    )
    SELECT
      b.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(SUM(s.smicro) AS BIGINT) AS nll_micro,
      CAST(SUM(s.smicro) AS DOUBLE) / COUNT(*) AS avg_nll_micro
    FROM b JOIN s ON b.w1 = s.w1 AND b.w2 = s.w2
    GROUP BY b.doc_id
    """


# (vsz, pairs12, pairs1) per sf_dir — see the memoization note inside
# text_lm_perplexity.
_LM_STATS_CACHE: dict[str, tuple[int, list, list]] = {}


@query(
    "text_lm_perplexity",
    oracle_builder=_lm_perplexity_oracle,
    tags=("llm", "text", "ngram", "lm", "quality"),
    bench=True,
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: train an add-one-smoothed bigram LM on
    the corpus itself, then score every document by its total and average
    negative log-likelihood — the classic perplexity filter that ranks
    boilerplate (low NLL) apart from noise (high NLL).

    Cross-engine exactness for a log-prob sum (which text_bigram_novelty's
    docstring rightly calls order-dependent in naive floating point): each
    bigram's surprisal ln(c1+V) − ln(c12+1) is an integer micro-nat
    computed ONCE in Python decimal arithmetic (functions/exactlog.py)
    over the two collected DISTINCT-count domains (Zipf-collapsed ≪ |V|²)
    and inlined into both engines as broadcast literal joins / VALUES
    joins — by construction, so no in-engine ``round(1e6·ln(n))`` leans
    on a measure-zero-tie argument. The per-doc sum is
    exact int64 arithmetic — order- and partitioning-independent; the
    single double division at the end divides two exact integers, so it
    too is bit-stable.

    Scale shape: bigram instances explode map-side; the model (bigram-type
    counts) is one shuffle on (w1,w2) with map-side combine, then
    ``localCheckpoint``-materialized — it is TYPE-level (≤ |V|², vastly
    smaller than the corpus), and without materialization Catalyst
    re-derives the corpus-wide explode for each of the three consumers
    (prefix counts, vocab size, scoring join), turning two corpus passes
    into four. Prefix counts and V are tiny rollups of the model; the scored
    model table (≤ |V|² rows) BROADCASTS into the instance join, so the
    corpus-sized bigram stream never shuffles for scoring — the only
    instance shuffle left is the per-doc rollup of map-side partials.
    V is a 1-row broadcast. (Broadcasting the model cut the sf0.1 bench
    time ~15%: the checkpoint lineage hides the table's true size from
    AQE, so the hint is load-bearing.)

    Widen: both corpus passes (model-build explode and the
    scoring join + per-doc rollup partials) run below any keyed exchange;
    on the testdata's single-row-group scan they single-thread. Filling
    scan parallelism trims the sf0.1 median ~0.1s and halves the sample
    spread (1.32–1.95 → 1.22–1.40); a no-op on multi-split data.
    """
    d = load_table(
        spark, sf_dir, "documents", widen=True, columns=("doc_id", "text")
    )
    ws = words()
    bigs = d.select(
        "doc_id",
        F.explode(
            adjacent_pairs(
                ws,
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_shift_pairs,
        with_micro_nat_shift,
    )

    c12 = (
        bigs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    if sf_dir in _LM_STATS_CACHE:
        vsz, pairs12, pairs1 = _LM_STATS_CACHE[sf_dir]
    else:
        # ONE driver action derives both micro-nat literal domains (the NB
        # tagged-union pattern): the c12-level branch (distinct bigram
        # counts + vocab size, g=0) unions with the c1-level branch
        # (distinct prefix counts, g=1); the shared checkpointed shuffle
        # stage runs once. Both domains are Zipf-collapsed count VALUES —
        # O(√instances) rows, never the type tables themselves. Memoized
        # per sf_dir (unmemoized, this action ran inside every timed bench
        # pass, +21%): the corpus under a given sf_dir is
        # immutable for the life of a process — the same argument
        # plans/registry.py:_BUILDER_CACHE already relies on, and tests
        # that craft their own tables write to a fresh tmp_path (new key).
        stats = (
            c12.agg(
                F.collect_set("c12").alias("cs"),
                F.count_distinct("w2").alias("vsz"),
                F.lit(0).alias("g"),
            )
            .unionByName(
                c1.agg(
                    F.collect_set("c1").alias("cs"),
                    F.lit(None).cast("long").alias("vsz"),
                    F.lit(1).alias("g"),
                )
            )
            .collect()
        )
        by_g = {r["g"]: r for r in stats}
        vsz = by_g[0]["vsz"] or 0
        pairs12 = micro_nat_shift_pairs(by_g[0]["cs"], 1)
        pairs1 = micro_nat_shift_pairs(by_g[1]["cs"], vsz)
        _LM_STATS_CACHE[sf_dir] = (vsz, pairs12, pairs1)
    # Literal-map lookups inside the projection at the expected domain
    # sizes (108 + 29 values at sf0.1): no extra joins, no broadcast jobs.
    joined = with_micro_nat_shift(
        with_micro_nat_shift(c12.join(c1, "w1"), pairs1, "c1", "l1"),
        pairs12,
        "c12",
        "l12",
    )
    scored = joined.select(
        "w1", "w2", (F.col("l1") - F.col("l12")).cast("long").alias("smicro")
    )
    return (
        bigs.join(F.broadcast(scored), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("smicro").alias("nll_micro"),
            (F.sum("smicro").cast("double") / F.count(F.lit(1))).alias(
                "avg_nll_micro"
            ),
        )
    )


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             {oracle_words()} AS ws
      FROM documents
    ), ti AS (
      SELECT doc_id, source, ws,
             unnest(generate_series(1, len(ws) - 1)) AS i
      FROM t
    ), b AS (
      SELECT doc_id, source, ws[i] || ' ' || ws[i+1] AS bigram FROM ti
    ), per AS (
      SELECT doc_id, source, bigram, COUNT(*) AS c
      FROM b GROUP BY doc_id, source, bigram
    ), doc AS (
      SELECT doc_id, source,
             SUM(c) AS n_bigrams, COUNT(*) AS n_distinct, MAX(c) AS top_c
      FROM per GROUP BY doc_id, source
    )
    SELECT
      doc_id,
      source,
      CAST(n_bigrams AS BIGINT) AS n_bigrams,
      CAST(n_distinct AS BIGINT) AS n_distinct,
      CAST(n_bigrams - n_distinct AS DOUBLE) / n_bigrams AS dup_frac,
      CAST(top_c AS DOUBLE) / n_bigrams AS top_share,
      4 * (n_bigrams - n_distinct) >= n_bigrams AS flagged
    FROM doc
    """,
    tags=("llm", "text", "ngram", "quality", "repetition"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style WITHIN-document repetition filter: per doc, the
    fraction of word-bigram instances that are repeats of an earlier bigram
    in the same doc (dup_frac = 1 − distinct/total) and the share of the
    single most-repeated bigram — the 'duplicate n-gram fraction' rules
    that catch boilerplate and keyword-stuffed spam, complementing the
    CORPUS-level signal of text_bigram_novelty.

    The flag threshold (≥25% duplicated) is the integer cross-comparison
    4·(n−d) ≥ n — no float threshold at the decision boundary. The two
    divisions emitted for reporting divide exact integers (bit-stable).

    Scale shape: both aggregations key on doc_id (the second reuses the
    first's partitioning — one exchange), state per doc is O(distinct
    bigrams of that doc), and documents never join documents.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = words()
    bigs = d.select(
        "doc_id",
        "source",
        F.explode(
            adjacent_pairs(
                ws,
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    per = bigs.groupBy("doc_id", "source", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    doc = per.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_c"),
    )
    return doc.select(
        "doc_id",
        "source",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        (
            (F.col("n_bigrams") - F.col("n_distinct")).cast("double")
            / F.col("n_bigrams")
        ).alias("dup_frac"),
        (F.col("top_c").cast("double") / F.col("n_bigrams")).alias("top_share"),
        (
            4 * (F.col("n_bigrams") - F.col("n_distinct")) >= F.col("n_bigrams")
        ).alias("flagged"),
    )


_VOCAB_KS = (100, 500, 2000)


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH cnt AS (
      SELECT word, COUNT(*) AS c
      FROM (
        SELECT unnest({oracle_words()})
          AS word
        FROM documents
      ) GROUP BY word
    ), ranked AS (
      SELECT word, c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rnk
      FROM cnt
    ), tot AS (
      SELECT SUM(c) AS total_tokens, COUNT(*) AS total_types FROM cnt
    ), ks AS (SELECT unnest([{", ".join(str(k) for k in _VOCAB_KS)}]) AS k)
    SELECT
      CAST(ks.k AS BIGINT) AS k,
      CAST(LEAST(ks.k, tot.total_types) AS BIGINT) AS n_vocab_types,
      CAST(COALESCE(SUM(r.c) FILTER (WHERE r.rnk <= ks.k), 0) AS BIGINT)
        AS covered_tokens,
      CAST(MAX(tot.total_tokens) AS BIGINT) AS total_tokens,
      CAST(COALESCE(SUM(r.c) FILTER (WHERE r.rnk <= ks.k), 0) AS DOUBLE)
        / MAX(tot.total_tokens) AS coverage
    FROM ks CROSS JOIN tot CROSS JOIN ranked r
    GROUP BY ks.k, tot.total_types, tot.total_tokens
    """,
    tags=("llm", "text", "tokenizer", "vocab"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design OOV curve: for candidate vocabulary sizes K, the
    fraction of all corpus token INSTANCES covered by the K most frequent
    word types — the coverage/OOV trade-off that sizes a tokenizer's vocab
    (the word-level analog of BPE's merge-count choice).

    Ranking ties break by (count DESC, word) so the top-K set is unique;
    coverage divides two exact integers (bit-stable across engines).

    Scale shape: the token count is one explode → map-side-combined shuffle
    on the word key; the head-of-vocabulary selection is a
    TakeOrderedAndProject (per-partition heaps of max(K) rows — the full
    type table, which still grows with the corpus under Heaps' law, is
    never sorted through one partition), and the ROW_NUMBER window runs
    over the max(K)-row head only. The K probes and totals are
    broadcast-sized cross joins.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # Type-level counts materialized once (as in text_lm_perplexity):
    # ranked and tot both consume cnt, and without the checkpoint Catalyst
    # re-derives the corpus explode for each.
    cnt = (
        d.select(F.explode(words()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    ranked = (
        cnt.orderBy(F.col("c").desc(), F.col("word"))
        .limit(max(_VOCAB_KS))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("word"))
            ),
        )
    )
    tot = cnt.agg(
        F.sum("c").alias("total_tokens"), F.count(F.lit(1)).alias("total_types")
    )
    ks = spark.range(len(_VOCAB_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in _VOCAB_KS]), (F.col("id") + 1).cast("int")
        ).alias("k")
    )
    return (
        ks.crossJoin(F.broadcast(tot))
        .crossJoin(ranked)
        .groupBy("k", "total_types", "total_tokens")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("rnk") <= F.col("k"), F.col("c"))), F.lit(0)
            ).alias("covered_tokens"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            F.least(F.col("k"), F.col("total_types"))
            .cast("long")
            .alias("n_vocab_types"),
            F.col("covered_tokens").cast("long").alias("covered_tokens"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            (
                F.col("covered_tokens").cast("double") / F.col("total_tokens")
            ).alias("coverage"),
        )
    )


@query(
    "text_bigram_novelty",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {oracle_words()} AS ws
      FROM documents
    ), ti AS (
      SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t
    ), b AS (
      SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram FROM ti
    ), cnt AS (
      SELECT bigram, COUNT(*) AS c FROM b GROUP BY bigram
    )
    SELECT
      b.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(COUNT(*) FILTER (WHERE cnt.c = 1) AS BIGINT) AS n_singletons,
      CAST(COUNT(*) FILTER (WHERE cnt.c = 1) AS DOUBLE) / COUNT(*)
        AS novelty,
      CAST(SUM(cnt.c) AS DOUBLE) / COUNT(*) AS avg_bigram_freq
    FROM b JOIN cnt USING (bigram)
    GROUP BY b.doc_id
    """,
    tags=("llm", "text", "ngram", "quality"),
)
def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-grounded bigram novelty score per document: the fraction of a
    doc's bigrams that occur nowhere else in the corpus (singletons), plus
    the mean corpus frequency of its bigrams — a cliché-vs-novel text
    quality signal, and the exactly-computable core of an n-gram LM score
    (a log-prob sum would be order-dependent floating point; singleton and
    frequency counts are integers, so both engines agree bit-for-bit).

    Bigrams come from zip_with over the token array (map-side, no
    positional window); the corpus count and the doc join shuffle on the
    bigram string — the same key, so Spark reuses one exchange of the
    exploded bigram set for both sides. The final rollup shuffles on
    doc_id.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = words("text")
    bigs = d.select(
        "doc_id",
        F.explode(
            adjacent_pairs(
                ws,
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    cnt = bigs.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    # cnt is type-level (≤ |V|² bigram types) — broadcast it so the
    # corpus-sized instance stream never shuffles for the novelty join
    # (same load-bearing hint as text_lm_perplexity's model table).
    return (
        bigs.join(F.broadcast(cnt), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count(F.when(F.col("c") == 1, 1)).alias("n_singletons"),
            (
                F.count(F.when(F.col("c") == 1, 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias(
                "avg_bigram_freq"
            ),
        )
    )


_ZIPF_RANKS = 200  # fit over the head of the frequency distribution


_ZIPF_HEAD_SQL = f"""
    WITH cnt AS (
      SELECT word, COUNT(*) AS c
      FROM (
        SELECT unnest({oracle_words()})
          AS word
        FROM {{documents}}
      ) GROUP BY word
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS r FROM cnt
    )
"""


def _zipf_oracle(sf_dir: str) -> str:
    """Data-dependent oracle (the ml_woe_binning pattern): DuckDB ranks
    the frequency head itself; the ln micro-nats for ranks 1..200 (static)
    and the head's count values (collected here) enter as Python-decimal
    literals joined on the integer argument — no transcendental runs in
    either engine."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_values_sql,
    )

    con = duckdb.connect()
    cvals = [
        r[0]
        for r in con.execute(
            _ZIPF_HEAD_SQL.format(
                documents=f"read_parquet('{sf_dir}/documents.parquet')"
            )
            + f" SELECT DISTINCT c FROM ranked WHERE r <= {_ZIPF_RANKS}"
        ).fetchall()
    ]
    con.close()
    args = set(cvals) | set(range(1, _ZIPF_RANKS + 1))
    body = _ZIPF_HEAD_SQL.format(documents="documents")
    return f"""
    {body},
    ln_t(arg, micro) AS (VALUES {micro_nat_values_sql(args)}),
    pts AS (
      SELECT lr.micro AS x, lc.micro AS y
      FROM ranked
      JOIN ln_t lr ON lr.arg = ranked.r
      JOIN ln_t lc ON lc.arg = ranked.c
      WHERE ranked.r <= {_ZIPF_RANKS}
    ), s AS (
      SELECT
        CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
        CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
        CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy,
        CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx
      FROM pts
    )
    SELECT
      CAST(n AS BIGINT) AS n_ranks,
      CAST(sx AS BIGINT) AS sum_log_rank_micro,
      CAST(sy AS BIGINT) AS sum_log_freq_micro,
      -- products-of-sums past 2^53: VARCHAR-routed conversion is
      -- correctly rounded on any DuckDB build (the native INT128->double
      -- cast is not), matching Spark's path
      CAST(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
           / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS DOUBLE)
        AS zipf_exponent
    FROM s
    """


@query(
    "text_zipf_fit",
    oracle_builder=_zipf_oracle,
    tags=("llm", "text", "zipf", "statistics"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus word-frequency head: the least-
    squares slope of log-frequency against log-rank (the Zipf exponent,
    ≈ −1 for natural language; strong deviation flags synthetic or
    degenerate corpora — a cheap corpus-health check beside the quality
    filters).

    Exactness (by construction, the ml_woe_binning pattern): log-rank (ranks
    1..200, a STATIC domain) and log-frequency (the head's 200 count values,
    collected from the cached head) are integer micro-nats computed once in
    Python decimal arithmetic (functions/exactlog.py) and inlined into both
    engines as literal map lookups / VALUES joins — no ln runs anywhere. The
    normal-equation sums combine in DECIMAL(38,0) so the products cannot
    overflow int64 in either engine; only the final slope division is floating
    point — one IEEE op on identical exact inputs. The rank window runs over
    the TYPE table, never corpus rows.
    """
    from pyspark.sql import Window

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_map,
    )

    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(words()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # TakeOrderedAndProject head selection, then rank the tiny head —
    # never a single-partition ROW_NUMBER over the full (Heaps-law-growing)
    # type table. Cached: the 200-row head is collected once to derive the
    # ln literal table, then feeds the regression without a second corpus
    # scan.
    ranked = (
        cnt.orderBy(F.col("c").desc(), F.col("word"))
        .limit(_ZIPF_RANKS)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("word"))
            ),
        )
        .cache()
    )
    head = ranked.collect()  # <= 200 rows — bounded head collect
    mp = micro_nat_map(
        {r["c"] for r in head} | set(range(1, _ZIPF_RANKS + 1))
    )
    pts = ranked.select(
        mp[F.col("r").cast("long")].alias("x"),
        mp[F.col("c").cast("long")].alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.col("sx").cast("long").alias("sum_log_rank_micro"),
        F.col("sy").cast("long").alias("sum_log_freq_micro"),
        # try_divide: a single-type corpus has a ONE-rank head, so the
        # regression denominator n·Σx²−(Σx)² is exactly 0 — Spark 4 ANSI
        # raises DIVIDE_BY_ZERO on DOUBLE/0 where DuckDB and ANSI-off
        # Spark return NULL.
        F.try_divide(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            ),
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
        ).alias("zipf_exponent"),
    )


# Sliding-window chunking: window of _CHUNK_W tokens advancing by _CHUNK_S
# (overlap _CHUNK_W - _CHUNK_S) — the standard pre-tokenization shaping step
# for context-window training and RAG indexing.
_CHUNK_W = 32
_CHUNK_S = 24


@query(
    "text_chunk_sliding",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             {oracle_words()} AS t
      FROM documents
    ), base AS (
      SELECT doc_id, t, len(t) AS n FROM toks
    ), st AS (
      SELECT doc_id, t, n, unnest(range(0, n, {_CHUNK_S})) AS start
      FROM base
    )
    SELECT
      doc_id,
      CAST(start // {_CHUNK_S} AS BIGINT) AS chunk_idx,
      CAST(len(list_slice(t, start + 1, least(start + {_CHUNK_W}, n)))
           AS BIGINT) AS n_chunk_tokens,
      array_to_string(
        list_slice(t, start + 1, least(start + {_CHUNK_W}, n)), ' '
      ) AS chunk_text
    FROM st
    """,
    tags=("llm", "text", "chunk", "rag"),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: fixed windows of 32 tokens
    advancing by 24 (8-token overlap), the shaping step between corpus
    curation and tokenization — every training example and RAG index
    entry is one output row.

    Spark shape: tokenize once (codegen split+filter), generate the chunk
    start offsets with ``sequence(0, n-1, stride)`` and ``posexplode``,
    slice the token array per offset. Pure map-side — ZERO shuffles: a 1→N
    row expansion inside the scan stage, so at 100 TB it runs at full
    scan throughput and the output partitioning inherits the input's.
    The last chunk per doc is the natural remainder (never padded,
    never dropped), so token coverage is exact.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", words().alias("t")
    ).withColumn("n", F.size("t"))
    st = base.select(
        "doc_id",
        "t",
        "n",
        # n = 0 (empty doc) or NULL (NULL text) must yield zero chunks:
        # sequence(0, -1, +24) RAISES, so gate it — posexplode drops the
        # row on NULL, matching the oracle's empty range(0, 0, S).
        F.posexplode(
            F.when(
                F.col("n") >= 1,
                F.sequence(F.lit(0), F.col("n") - 1, F.lit(_CHUNK_S)),
            )
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice(
        F.col("t"),
        F.col("start") + 1,
        F.least(F.lit(_CHUNK_W), F.col("n") - F.col("start")),
    )
    return st.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


_BPE_TOP = 20


@query(
    "text_bpe_pair_stats",
    oracle=f"""
    WITH words AS (
      SELECT unnest({oracle_words()})
        AS w
      FROM documents
    ), wc AS (
      SELECT w, COUNT(*) AS c FROM words GROUP BY w
    ), pairs AS (
      SELECT
        unnest(list_transform(generate_series(1, length(w) - 1),
                              i -> substr(w, CAST(i AS INT), 2))) AS pair,
        c
      FROM wc
      WHERE length(w) >= 2
    ), agg AS (
      SELECT pair, CAST(SUM(c) AS BIGINT) AS pair_count
      FROM pairs GROUP BY pair
    )
    SELECT pair, pair_count FROM agg
    ORDER BY pair_count DESC, pair
    LIMIT {_BPE_TOP}
    """,
    tags=("llm", "text", "bpe", "tokenizer"),
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction, step one: corpus-weighted adjacent
    character-pair frequencies — exactly the statistic the first BPE
    merge maximizes. The top pair here IS the first merge rule a BPE
    trainer would learn on this corpus; re-running per merge round (on
    the rewritten symbol table) yields the full vocabulary.

    Spark shape: count WORD TYPES first (one shuffle on the word key,
    map-side combined), then expand each distinct word into its
    adjacent pairs weighted by the type count — the expansion runs over
    the type table (≤ vocab size, ≪ corpus rows), so a 100 TB corpus
    pays one word-count shuffle and a vocab-sized pair aggregation.
    Descending-count + pair tiebreak makes the top-20 deterministic.
    ``sequence(1, length-1)`` is guarded for single-char words: Spark's
    ``sequence(1, 0)`` counts DOWN ([1,0]) rather than returning empty.
    """
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(words()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = wc.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN "
                "transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2)) "
                "ELSE array() END"
            )
        ).alias("pair"),
        "c",
    )
    agg = pairs.groupBy("pair").agg(F.sum("c").cast("long").alias("pair_count"))
    return agg.orderBy(F.col("pair_count").desc(), "pair").limit(_BPE_TOP)


@query(
    "text_js_divergence_sources",
    oracle=f"""
    WITH w AS (
      SELECT source,
             unnest({oracle_words()}) AS word
      FROM documents
    ), sc AS (
      SELECT source, word, COUNT(*) AS c FROM w GROUP BY source, word
    ), stot AS (
      SELECT source, SUM(c) AS n FROM sc GROUP BY source
    ), gc AS (
      SELECT word, SUM(c) AS g FROM sc GROUP BY word
    ), gtot AS (
      SELECT SUM(g) AS gn FROM gc
    ), terms AS (
      SELECT
        sc.source,
        -- p = source dist, q = corpus dist, m = (p+q)/2; one term per
        -- (source, word) with p>0; words absent from the source
        -- contribute the q-side term, handled via the corpus pass below
        CAST(round(1e6 * (
            0.5 * (CAST(sc.c AS DOUBLE) / stot.n)
                * ln((CAST(sc.c AS DOUBLE) / stot.n)
                     / (0.5 * CAST(sc.c AS DOUBLE) / stot.n
                        + 0.5 * CAST(gc.g AS DOUBLE) / gtot.gn))
          + 0.5 * (CAST(gc.g AS DOUBLE) / gtot.gn)
                * ln((CAST(gc.g AS DOUBLE) / gtot.gn)
                     / (0.5 * CAST(sc.c AS DOUBLE) / stot.n
                        + 0.5 * CAST(gc.g AS DOUBLE) / gtot.gn))
        )) AS BIGINT) AS t_micro
      FROM sc
      JOIN stot ON sc.source = stot.source
      JOIN gc ON sc.word = gc.word
      CROSS JOIN gtot
    ), missing AS (
      -- q-side mass for words the source never uses: p=0 → m=q/2 →
      -- the KL(q||m) term is 0.5*q*ln(2)
      SELECT s.source,
             CAST(round(1e6 * 0.5 * ln(2)
                  * (1.0 - CAST(SUM(CASE WHEN sc.c IS NOT NULL THEN gc.g END)
                                AS DOUBLE) / MAX(gtot.gn))) AS BIGINT)
               AS t_micro
      FROM (SELECT DISTINCT source FROM sc) s
      CROSS JOIN gc
      LEFT JOIN sc ON sc.source = s.source AND sc.word = gc.word
      CROSS JOIN gtot
      GROUP BY s.source
    )
    SELECT source,
           CAST(SUM(t_micro) AS BIGINT) AS jsd_micro_nats
    FROM (SELECT * FROM terms UNION ALL SELECT * FROM missing)
    GROUP BY source
    """,
    tags=("llm", "text", "drift", "divergence"),
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift detection: Jensen–Shannon divergence of each source's
    word distribution from the whole-corpus distribution — the standard
    monitor for "did this crawl/feed change under us" in training-data
    ops (JSD is symmetric and bounded by ln 2, unlike raw KL).

    Each (source, word) term quantizes to integer micro-nats BEFORE the
    per-source sum (the perplexity recipe), and the q-side mass of words
    a source never uses collapses to a closed form (0.5·ln2·(1−coverage))
    computed from the same exact integer counts — so the divergence is an
    exact int64 and hash-matches.

    100 TB: all distributions are TYPE-level (|vocab| ≪ corpus); the only
    corpus-sized work is the (source, word) count, map-side combined.
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.explode(words()).alias("word")
    sc = (
        d.select("source", w)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stot = sc.groupBy("source").agg(F.sum("c").alias("n"))
    gc = sc.groupBy("word").agg(F.sum("c").alias("g"))
    gtot = gc.agg(F.sum("g").alias("gn"))
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("g").cast("double") / F.col("gn")
    m = F.lit(0.5) * p + F.lit(0.5) * q
    terms = (
        sc.join(stot, "source")
        .join(F.broadcast(gc), "word")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            F.round(
                F.lit(1e6)
                * (
                    F.lit(0.5) * p * F.log(p / m)
                    + F.lit(0.5) * q * F.log(q / m)
                )
            )
            .cast("long")
            .alias("t_micro"),
        )
    )
    missing = (
        sc.select("source")
        .distinct()
        .crossJoin(F.broadcast(gc))
        .join(sc, ["source", "word"], "left")
        .crossJoin(F.broadcast(gtot))
        .groupBy("source")
        .agg(
            F.round(
                F.lit(1e6)
                * F.lit(0.5)
                * F.log(F.lit(2.0))
                * (
                    F.lit(1.0)
                    - F.sum(
                        F.when(F.col("c").isNotNull(), F.col("g"))
                    ).cast("double")
                    / F.max("gn")
                )
            )
            .cast("long")
            .alias("t_micro")
        )
    )
    return (
        terms.unionAll(missing)
        .groupBy("source")
        .agg(F.sum("t_micro").cast("long").alias("jsd_micro_nats"))
    )


@query(
    "text_heldout_bigram_coverage",
    oracle=f"""
    WITH split AS (
      SELECT doc_id,
             {oracle_words()} AS ws,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':heldout'), 1, 8))::BIGINT
               % 5 = 0 AS is_heldout
      FROM documents
    ), bi AS (
      SELECT doc_id, is_heldout, ws[i] || ' ' || ws[i+1] AS bg
      FROM split, (SELECT unnest(generate_series(1, 100000)) AS i) ix(i)
      WHERE i <= len(ws) - 1
    ), train_types AS (
      SELECT DISTINCT bg FROM bi WHERE NOT is_heldout
    ), held AS (
      SELECT h.bg, (t.bg IS NOT NULL) AS covered
      FROM (SELECT bg FROM bi WHERE is_heldout) h
      LEFT JOIN train_types t ON h.bg = t.bg
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS heldout_instances,
      CAST(COUNT(*) FILTER (WHERE covered) AS BIGINT) AS covered_instances,
      CAST(COUNT(DISTINCT bg) AS BIGINT) AS heldout_types,
      CAST(COUNT(DISTINCT CASE WHEN covered THEN bg END) AS BIGINT)
        AS covered_types
    FROM held
    """,
    tags=("llm", "text", "eval-hygiene", "coverage"),
)
def text_heldout_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram coverage — the eval-hygiene number behind every LM
    perplexity report: what fraction of a held-out split's bigram
    instances (and types) also occur in the training split. Low coverage
    means the eval measures OOV handling, not modeling; suspiciously HIGH
    coverage flags leakage (`curate_decontaminate`'s cousin, measured at
    the n-gram-statistics level).

    The 20% held-out assignment is the md5-bucket split (deterministic on
    doc_id), bigrams generate map-side from the token array, and the
    train TYPE set — vocab-sized, ≪ corpus — broadcasts into the held-out
    probe join. All four outputs are exact integer counts.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = words()
    from biglake_iceberg_python_spark.operators.pipeline import _md5_bucket

    split = d.select(
        "doc_id",
        ws.alias("ws"),
        (_md5_bucket(F.col("doc_id"), "heldout", 5) == 0).alias("is_heldout"),
    )
    bi = split.select(
        "is_heldout",
        F.explode(
            adjacent_pairs(
                F.col("ws"),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    train_types = bi.filter(~F.col("is_heldout")).select("bg").distinct()
    held = (
        bi.filter(F.col("is_heldout"))
        .join(
            F.broadcast(train_types.withColumn("covered", F.lit(True))),
            "bg",
            "left",
        )
        .select("bg", F.coalesce(F.col("covered"), F.lit(False)).alias("covered"))
    )
    return held.agg(
        F.count(F.lit(1)).alias("heldout_instances"),
        F.count(F.when(F.col("covered"), 1)).alias("covered_instances"),
        F.count_distinct("bg").alias("heldout_types"),
        F.count_distinct(F.when(F.col("covered"), F.col("bg"))).alias(
            "covered_types"
        ),
    )


@query(
    "text_compression_ratio",
    oracle=None,  # zlib has no SQL twin; determinism + semantic bounds are
    # pinned in tests/test_operators.py (deterministic DEFLATE: fixed
    # level, single-shot compress — bit-stable across runs and workers).
    tags=("llm", "text", "quality", "compression"),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality filter — the classic cheap redundancy
    detector from web-corpus pipelines: highly compressible text is
    repetitive boilerplate, incompressible text is noise/binary junk;
    both tails get cut before expensive stages.

    zlib (level 6, single-shot) is deterministic for fixed input, so
    per-doc compressed sizes are reproducible across runs, workers, and
    cluster layouts even though no SQL oracle exists — the rows-only
    entry sits in the external-codec category next to the multimodal
    decode stub. Python cost is one Arrow-batched pass (mapInPandas
    tier); everything after the byte counts is exact integer arithmetic.

    Output: per source, docs flagged too-repetitive (ratio < 0.35),
    too-random (ratio > 0.95), and kept, plus the exact byte totals.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def compressed_len(text: pd.Series) -> pd.Series:
        import zlib

        # NULL text compresses as empty: keeps the three output buckets a
        # PARTITION of n_docs (a NULL comp_len would fall in none of them)
        # and matches the coalesced raw_len below.
        return text.map(
            lambda t: len(zlib.compress((t or "").encode("utf-8"), 6))
        ).astype("int32")

    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "source",
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("raw_len"),
        compressed_len(F.col("text")).alias("comp_len"),
    )
    # ratio thresholds as integer cross-multiplications (no float compare)
    too_rep = F.col("comp_len") * 100 < F.col("raw_len") * 35
    too_rand = F.col("comp_len") * 100 > F.col("raw_len") * 95
    return sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("raw_len").cast("long").alias("raw_bytes"),
        F.sum("comp_len").cast("long").alias("compressed_bytes"),
        F.count(F.when(too_rep, 1)).alias("n_too_repetitive"),
        F.count(F.when(too_rand, 1)).alias("n_too_random"),
        F.count(F.when(~too_rep & ~too_rand, 1)).alias("n_kept"),
    )


_PMI_TOP = 20


@query(
    "text_pmi_cooccurrence",
    oracle=f"""
    WITH dw AS (
      SELECT DISTINCT doc_id,
             unnest({oracle_words()}) AS w
      FROM documents
    ), n_docs AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM dw),
    df AS (SELECT w, COUNT(*) AS dfw FROM dw GROUP BY w),
    pair AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c12
      FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w
    ), scored AS (
      SELECT p.w1, p.w2, p.c12,
             CAST(round(1e6 * ln(CAST(p.c12 AS DOUBLE) * n.nd
                                 / (CAST(d1.dfw AS DOUBLE) * d2.dfw)))
                  AS BIGINT) AS pmi_micro
      FROM pair p
      JOIN df d1 ON p.w1 = d1.w
      JOIN df d2 ON p.w2 = d2.w
      CROSS JOIN n_docs n
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS n_cooccur, pmi_micro
    FROM scored
    ORDER BY pmi_micro DESC, w1, w2
    LIMIT {_PMI_TOP}
    """,
    tags=("llm", "text", "pmi", "cooccurrence"),
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over word co-occurrence — the classic
    related-terms/query-expansion miner: PMI(w1,w2) =
    ln(P(w1,w2)/(P(w1)P(w2))) ranks pairs that appear together MORE than
    their popularity predicts (the corpus' planted 'dup' docs surface
    here, co-occurring far above chance).

    The document-word incidence is distinct'd once; pairs come from a
    self-join on doc_id whose fan-out is words-per-doc² over TYPE pairs
    (the count table is ≤ |V|², tiny), and PMI quantizes to integer
    micro-nats (ln of a rational — the documented irrational-quantizer
    exemption). Top-k by the quantized score with text tiebreaks.
    """
    d = load_table(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id", F.explode(words()).alias("w")
    ).distinct()
    nd = dw.agg(F.count_distinct("doc_id").alias("nd"))
    df = dw.groupBy("w").agg(F.count(F.lit(1)).alias("dfw"))
    a = dw.alias("a")
    b = dw.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    scored = (
        pair.join(F.broadcast(df.withColumnRenamed("w", "w1").withColumnRenamed("dfw", "df1")), "w1")
        .join(F.broadcast(df.withColumnRenamed("w", "w2").withColumnRenamed("dfw", "df2")), "w2")
        .crossJoin(F.broadcast(nd))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.lit(1e6)
                * F.log(
                    F.col("c12").cast("double") * F.col("nd")
                    / (F.col("df1").cast("double") * F.col("df2"))
                )
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return (
        scored.select(
            "w1", "w2", F.col("c12").cast("long").alias("n_cooccur"), "pmi_micro"
        )
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )


_RAKE_TOP = 15


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {oracle_words()} AS ws
      FROM documents
    ), ti AS (
      SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws
      FROM t
    ), tok AS (
      SELECT doc_id, i, ws[i] AS w,
             CASE WHEN ws[i] IN ('{_STOP_SQL}') THEN 1 ELSE 0 END AS st
      FROM ti
    ), seg AS (
      SELECT doc_id, i, w, st,
             SUM(st) OVER (PARTITION BY doc_id ORDER BY i) AS pid
      FROM tok
    ), pw AS (
      SELECT doc_id, pid, i, w,
             COUNT(*) OVER (PARTITION BY doc_id, pid) AS plen
      FROM seg WHERE st = 0
    ), wstat AS (
      SELECT w,
             COUNT(*) AS freq,
             SUM(plen) AS deg
      FROM pw GROUP BY w
    ), wscore AS (
      SELECT w, (1000000 * deg) // freq AS ws_micro FROM wstat
    ), phr AS (
      SELECT p.doc_id, p.pid,
             string_agg(p.w, ' ' ORDER BY p.i) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             SUM(s.ws_micro) AS score_micro
      FROM pw p JOIN wscore s ON p.w = s.w
      GROUP BY p.doc_id, p.pid
    )
    SELECT phrase,
           CAST(MAX(n_words) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(score_micro) AS BIGINT) AS score_micro
    FROM phr
    GROUP BY phrase
    ORDER BY score_micro DESC, n_occurrences DESC, phrase
    LIMIT {_RAKE_TOP}
    """,
    tags=("llm", "text", "keywords", "rake"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free word runs; each word scores degree/frequency
    (degree = Σ length of phrases containing it), a phrase scores the sum
    of its word scores — the classic no-model keyphrase extractor, useful
    in a corpus pipeline for topic tagging before any LLM touches the text.

    Scale shape: one explode pass over the corpus; phrase segmentation is
    a per-doc window prefix-sum over stopword flags (bounded doc length —
    never a corpus-wide window); the word-score table is TYPE-level
    (≤ |vocab| rows) and BROADCASTS into phrase scoring, so the corpus
    never shuffles for the join; phrase dedup groups on the phrase string
    with map-side combine. Top-{_RAKE_TOP} via TakeOrderedAndProject.

    Determinism: word scores are exact integer floor-divisions
    (1e6·deg DIV freq — positives, so floor = trunc in both engines);
    phrase scores are int64 sums of those; the final ordering
    (score, occurrences, phrase) is total. Hash-matches DuckDB.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(words()).alias("i", "w")
    ).withColumn(
        "st",
        F.when(F.col("w").isin(*_STOPWORDS), F.lit(1)).otherwise(F.lit(0)),
    )
    seg = tok.withColumn(
        "pid",
        F.sum("st").over(
            Window.partitionBy("doc_id").orderBy("i")
        ),
    )
    pw = seg.filter(F.col("st") == 0).withColumn(
        "plen",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "pid")),
    )
    wscore = (
        pw.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
        .select("w", F.expr("(1000000 * deg) DIV freq").alias("ws_micro"))
    )
    phr = (
        pw.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("ws_micro").alias("score_micro"),
        )
    )
    return (
        phr.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score_micro").alias("score_micro"),
        )
        .orderBy(
            F.col("score_micro").desc(), F.col("n_occurrences").desc(), "phrase"
        )
        .limit(_RAKE_TOP)
    )


@query(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {oracle_words()} AS ws
      FROM documents
    ), ti AS (
      SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t
    ), b AS (
      SELECT ws[i] AS w1, ws[i+1] AS w2 FROM ti
    ), c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM b GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, SUM(c12) AS c1, CAST(COUNT(*) AS BIGINT) AS n1p_fwd
      FROM c12 GROUP BY w1
    ), bwd AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_bwd
      FROM c12 GROUP BY w2
    ), nbt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nbt FROM c12
    )
    SELECT c12.w1, c12.w2, c12.c12,
           CAST(c1.c1 AS BIGINT) AS c1,
           c1.n1p_fwd, bwd.n1p_bwd,
           CAST(
             (1000000 * (4 * c12.c12 - 3)) // (4 * c1.c1)
             + (1000000 * 3 * c1.n1p_fwd * bwd.n1p_bwd)
               // (4 * c1.c1 * nbt.nbt)
             AS BIGINT) AS p_kn_micro
    FROM c12
    JOIN c1 USING (w1)
    JOIN bwd USING (w2)
    CROSS JOIN nbt
    ORDER BY c12.c12 DESC, c12.w1, c12.w2
    LIMIT 20
    """,
    tags=("llm", "text", "ngram", "lm", "smoothing"),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing that
    actual n-gram LMs ship (CCNet's scoring models are KN-smoothed
    KenLM), one notch of sophistication above ``text_lm_perplexity``'s
    add-one: mass is discounted from seen bigrams and redistributed by
    CONTINUATION count (how many distinct left-contexts a word follows —
    why "francisco" gets low unigram backoff weight despite high raw
    frequency), interpolated with weight proportional to the context's
    distinct-successor count.

    With discount d = 3/4,
      P(w|v) = (c(vw) − 3/4)/c(v·)
             + (3/4)·N₁₊(v·)/c(v·) · N₁₊(·w)/N_bigram_types
    is a sum of two RATIONALS, so the micro-unit output needs no
    transcendentals at all: each term is one truncating integer division
    (Spark ``DIV`` ≡ DuckDB ``//``) of exact int64 products —
    bit-identical across engines, partitionings, and reruns by
    construction (stricter than the quantized-ln micro-nat scheme the
    perplexity family needs). Term-wise flooring differs from flooring
    the exact sum by at most 1 micro-unit but is the SAME expression on
    both sides. int64 headroom: the interpolation numerator is
    3e6·N₁₊(v·)·N₁₊(·w) ≤ 3e6·|V|² and the denominator 4·c(v·)·N_bt —
    at trillion-token scale promote both to DECIMAL(38,0); the
    arithmetic stays exact.

    Scale shape: identical to text_lm_perplexity's model build — bigram
    instances explode map-side, ONE (w1,w2) map-side-combined shuffle to
    the TYPE-level model table, and every subsequent table (prefix
    totals + distinct-successor counts from one w1-rollup, continuation
    counts from one w2-rollup, the 1-row type total) is vocabulary-sized
    or smaller. The final scoring joins ride the model's own keys and
    the output is TakeOrderedAndProject's top-20 — no global sort, no
    corpus-sized exchange after the first rollup.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = words()
    bigs = d.select(
        F.explode(
            adjacent_pairs(
                ws,
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("bg.w1", "bg.w2")
    c12 = (
        bigs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=False)
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p_fwd"),
    )
    bwd = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1p_bwd")
    )
    nbt = c12.agg(F.count(F.lit(1)).cast("long").alias("nbt"))
    return (
        c12.join(c1, "w1")
        .join(bwd, "w2")
        .crossJoin(F.broadcast(nbt))
        .select(
            "w1",
            "w2",
            "c12",
            F.col("c1").cast("long").alias("c1"),
            "n1p_fwd",
            "n1p_bwd",
            F.expr(
                "CAST((1000000 * (4 * c12 - 3)) DIV (4 * c1)"
                " + (1000000 * 3 * n1p_fwd * n1p_bwd)"
                "   DIV (4 * c1 * nbt) AS BIGINT)"
            ).alias("p_kn_micro"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(20)
    )


_BPE_ROUNDS = 6


def _bpe_chain_sql() -> str:
    """The shared 6-round BPE trainer CTE chain (through t6) — same
    argmax tiebreak and greedy replace as the Spark side (see
    text_bpe_train_merges for why string replace IS the merge). Both BPE
    oracles append their own final SELECT."""
    rounds = []
    for r in range(_BPE_ROUNDS):
        rounds.append(f"""
    , pr{r} AS (
      SELECT freq, list_filter(string_split(s, '/'), x -> x <> '') AS ws
      FROM t{r}
    ), pi{r} AS (
      SELECT freq, ws, unnest(generate_series(1, len(ws) - 1)) AS i
      FROM pr{r}
    ), p{r} AS (
      SELECT ws[i] AS a, ws[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM pi{r} GROUP BY a, b
    ), b{r} AS (
      SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
    ), t{r + 1} AS (
      SELECT word, freq,
             replace(t{r}.s, b{r}.a || '/' || b{r}.b || '/',
                     b{r}.a || b{r}.b || '/') AS s
      FROM t{r} CROSS JOIN b{r}
    )""")
    return f"""
    WITH words AS (
      SELECT unnest({oracle_words()})
        AS word
      FROM documents
    ), w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY word
    ), t0 AS (
      SELECT word, freq, regexp_replace(word, '(.)', '\\1/', 'g') AS s
      FROM w
    ){''.join(rounds)}"""


def _bpe_oracle() -> str:
    union = "\n      UNION ALL\n".join(
        f"      SELECT {r + 1} AS merge_rank, a AS left_tok, b AS right_tok,"
        f" a || b AS merged, cnt FROM b{r}"
        for r in range(_BPE_ROUNDS)
    )
    return f"""{_bpe_chain_sql()}
    SELECT CAST(merge_rank AS BIGINT) AS merge_rank,
           left_tok, right_tok, merged,
           CAST(cnt AS BIGINT) AS weighted_count
    FROM (
{union}
    )
    """


@query(
    "text_bpe_train_merges",
    oracle=_bpe_oracle(),
    tags=("llm", "text", "bpe", "tokenizer", "iterative"),
    bench=True,
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING — the full iterative loop, not
    just the pair-statistics first step (`text_bpe_pair_stats`): six
    rounds of (count frequency-weighted adjacent pairs over the word-TYPE
    table → pick the argmax pair under a total (count DESC, pair) order →
    merge every occurrence) producing the ordered merge table a tokenizer
    ships. Hash-matched end-to-end: the DuckDB oracle unrolls the SAME
    six rounds as chained CTEs, so the argmax choices and merge
    applications must agree exactly, round by round.

    The merge application needs no per-row loop on either engine: word
    types are kept as '/'-TERMINATED token strings ('a/b/c/'), and
    leftmost non-overlapping string ``replace`` of 'a/b/' with 'ab/' IS
    the greedy left-to-right BPE merge (terminated tokens make prefix
    collisions impossible — 'a/b/' cannot match inside 'a/bc/'; verified
    identical across JVM and DuckDB replace semantics, including the
    overlap case 'a/a/a/' → 'aa/a/').

    Scale shape: the ONLY corpus-sized work is the one explode→count
    shuffle building the word-type table (same budget as every text
    query); all six training rounds run on the TYPE table (vocabulary-
    sized — orders of magnitude below the corpus), each round = one
    pair-count shuffle whose 1-row argmax is COLLECTED and applied as
    literal strings in a map-side replace (see _bpe_train for the
    plan-shape rationale). This is exactly how industrial
    BPE trainers distribute (type-level counting, driver-coordinated
    argmax) — at a 1M-type vocabulary each round's pair table is ~10M
    rows, trivial for a cluster. Token arrays never explode
    per-occurrence: frequency weighting carries occurrence counts.
    """
    _, merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank long, left_tok string, right_tok string,"
        " merged string, weighted_count long",
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple]]:
    """Run the 6-round trainer; return (final encoded type table, per-round
    merge tuples). Shared by text_bpe_train_merges and text_bpe_encode.

    Each round's argmax pair is
    COLLECTED (one row — the driver-coordinated argmax industrial BPE
    trainers use) and applied as two string literals in the merge
    ``replace``, instead of the former 1-row localCheckpoint broadcast
    into a crossJoin. Two structural effects, measured at sf0.1:

      * 13 eager ``localCheckpoint`` calls → 1. Each lazy localCheckpoint
        still runs full physical planning (``queryExecution.toRdd``) on
        the DRIVER at build time — ~0.1-0.2 s apiece, ~1.1 s of the
        query's 1.4 s bench wall was plan construction, not compute.
      * With literal merge pairs the per-round type table is a pure chain
        of map-side ``replace`` projections over the ONE checkpointed
        word-type table — no plan-size blowup (the former best-table
        crossJoin doubled the lineage per round, which is why every round
        had to checkpoint), so the mid-loop checkpoints are gone, not
        merely batched.

    The per-round 1-row collect is the same driver-scalar budget as
    graph_kcore's k derivation; nothing corpus- or vocab-sized visits the
    driver. Bench: 2.0-2.4 s → 1.6-1.7 s (A/B in one JVM); argmax rows and
    the encoded table are bit-identical (orderBy().limit(1).collect() and
    the former TakeOrdered broadcast pick the same (cnt DESC, a, b) row).
    """
    d = load_table(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(words()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    t = w.select(
        "word", "freq", F.regexp_replace("word", "(.)", "$1/").alias("s")
    ).localCheckpoint(eager=False)
    merges: list[tuple] = []
    for r in range(_BPE_ROUNDS):
        tw = t.select(
            "freq", F.expr("filter(split(s, '/'), x -> x != '')").alias("ws")
        )
        pairs = tw.select(
            "freq",
            F.explode(
                adjacent_pairs(
                    F.col("ws"),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        )
        best_rows = (
            pairs.select("freq", "p.a", "p.b")
            .groupBy("a", "b")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best_rows:
            # Degenerate corpus (no adjacent pairs left): no further merges
            # are learnable and remaining rounds emit nothing. The oracle's
            # ``t{{r+1}} = t{{r}} CROSS JOIN b{{r}}`` goes EMPTY when the
            # argmax CTE is empty — mirror that exactly so text_bpe_encode
            # (which joins the final type table) matches it too.
            t = t.filter(F.lit(False))
            break
        a, b, cnt = best_rows[0]["a"], best_rows[0]["b"], best_rows[0]["cnt"]
        merges.append((r + 1, a, b, a + b, cnt))
        # String literals via F.lit (never SQL-string interpolation: corpus
        # tokens may contain quotes/backslashes).
        t = t.select(
            "word",
            "freq",
            F.replace(
                F.col("s"),
                F.lit(a + "/" + b + "/"),
                F.lit(a + b + "/"),
            ).alias("s"),
        )
    return t, merges


@query(
    "text_bpe_encode",
    oracle=f"""{_bpe_chain_sql()}
    , cw AS (
      SELECT source,
             unnest({oracle_words()})
               AS word
      FROM documents
    ), csw AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM cw GROUP BY source, word
    )
    SELECT csw.source,
           CAST(SUM(csw.c) AS BIGINT) AS n_words,
           CAST(SUM(csw.c * length(csw.word)) AS BIGINT) AS n_chars,
           CAST(SUM(csw.c * len(list_filter(string_split(t{_BPE_ROUNDS}.s,
                  '/'), x -> x <> ''))) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(csw.c * len(list_filter(string_split(t{_BPE_ROUNDS}.s,
                  '/'), x -> x <> ''))) * 1000000
                // SUM(csw.c * length(csw.word)) AS BIGINT)
             AS tokens_per_char_ppm
    FROM csw JOIN t{_BPE_ROUNDS} ON csw.word = t{_BPE_ROUNDS}.word
    GROUP BY csw.source
    """,
    tags=("llm", "text", "bpe", "tokenizer", "encode"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — apply the 6-merge tokenizer `text_bpe_train_merges`
    learns to the whole corpus and report per-source token economics:
    word count, character count, BPE token count, and tokens-per-char in
    ppm (the fertility metric tokenizer evaluations quote). Hash-matched:
    the oracle re-runs the identical unrolled trainer and the identical
    type-level encoding join.

    Encoding never touches documents row by row: the trainer's final
    type table already holds every word's merged segmentation, so the
    corpus is encoded by ONE equi-join of per-(source, word) counts
    against the vocabulary — token counts multiply out by occurrence
    count. The ppm is truncating integer division of exact int64 sums
    (Spark ``DIV`` ≡ DuckDB ``//``), never float.

    Scale shape: one corpus shuffle for the (source, word) rollup —
    everything after is vocabulary-sized (the trainer's own budget plus
    one broadcast-able join). This is the induction→application loop a
    tokenizer pipeline actually runs, closed end-to-end.
    """
    t, _ = _bpe_train(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    csw = (
        d.select("source", F.explode(words()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    enc = t.select(
        "word",
        F.size(F.expr("filter(split(s, '/'), x -> x != '')")).alias("n_tok"),
    )
    return (
        csw.join(F.broadcast(enc), "word")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.length("word")).cast("long").alias("n_chars"),
            F.sum(F.col("c") * F.col("n_tok")).cast("long").alias("n_bpe_tokens"),
            F.expr(
                "CAST(SUM(c * n_tok) * 1000000 DIV SUM(c * length(word))"
                " AS BIGINT)"
            ).alias("tokens_per_char_ppm"),
        )
    )


@query(
    "text_heaps_law",
    oracle=f"""
    WITH d AS (SELECT COUNT(*) AS nd FROM documents),
    docs AS (
      SELECT (doc_id * 10) // (SELECT nd FROM d) AS dec,
             {oracle_words()} AS ws
      FROM documents
    ), per_dec AS (
      SELECT dec, COUNT(*) AS n_docs, SUM(len(ws)) AS dec_tokens
      FROM docs GROUP BY dec
    ), wordocc AS (
      SELECT w, MIN(dec) AS dec
      FROM (SELECT dec, unnest(ws) AS w FROM docs)
      GROUP BY w
    ), trioc AS (
      SELECT t, MIN(dec) AS dec
      FROM (
        SELECT dec, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS t
        FROM docs, (SELECT unnest(generate_series(1, 100000)) AS i) ix(i)
        WHERE i <= len(ws) - 2
      )
      GROUP BY t
    ), nw AS (
      SELECT dec, COUNT(*) AS new_word_types FROM wordocc GROUP BY dec
    ), nt AS (
      SELECT dec, COUNT(*) AS new_tri_types FROM trioc GROUP BY dec
    )
    SELECT
      p.dec AS decile,
      CAST(p.n_docs AS BIGINT) AS n_docs,
      CAST(SUM(p.dec_tokens) OVER (ORDER BY p.dec) AS BIGINT) AS cum_tokens,
      CAST(SUM(COALESCE(w.new_word_types, 0)) OVER (ORDER BY p.dec) AS BIGINT)
        AS cum_word_types,
      CAST(COALESCE(t.new_tri_types, 0) AS BIGINT) AS new_tri_types,
      CAST(SUM(COALESCE(t.new_tri_types, 0)) OVER (ORDER BY p.dec) AS BIGINT)
        AS cum_tri_types,
      CAST(SUM(COALESCE(t.new_tri_types, 0)) OVER (ORDER BY p.dec) * 1000000
           // SUM(p.dec_tokens) OVER (ORDER BY p.dec) AS BIGINT)
        AS tri_ttr_ppm
    FROM per_dec p
    LEFT JOIN nw w ON p.dec = w.dec
    LEFT JOIN nt t ON p.dec = t.dec
    ORDER BY decile
    """,
    tags=("llm", "text", "vocabulary", "heaps"),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve — the number every tokenizer-
    vocabulary and dedup-budget decision starts from: how fast does the
    TYPE count V(N) grow as the corpus token count N grows? Emits, per
    corpus decile (by doc_id order), cumulative token, word-type, and
    trigram-type counts plus the running trigram type/token ratio in ppm
    — the discrete V(N) curve whose log-log slope is the Heaps exponent.
    Word types saturate almost immediately (closed vocabulary); trigram
    types keep growing — the contrast IS the readout, the same reason
    dedup shingles on n-grams rather than unigrams.

    Exactness: every output is integer arithmetic — no fitted exponent,
    no logs — so the row hashes bit-for-bit. The decile assignment is
    ``doc_id * 10 DIV count(*)`` (doc_ids are dense), identical in both
    engines.

    Scale shape: the corpus-sized shuffles are the two first-occurrence
    reductions ``min(decile) BY type`` — type-level output, map-side
    combined; shingles generate map-side (sequence+transform+explode,
    `dedup_substring_spans`'s shape). The cumulative window runs over the
    TEN decile rows, not the corpus (the same two-phase trick
    `pack_token_shards` uses: reduce to a tiny keyed table first, then
    window it). Would hold at 100 TB: deciles stay 10 rows regardless of
    corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    docs = d.crossJoin(F.broadcast(nd)).select(
        F.expr("doc_id * 10 DIV nd").alias("dec"),
        words().alias("ws"),
    )
    per_dec = docs.groupBy("dec").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("ws")).cast("long").alias("dec_tokens"),
    )
    wordocc = (
        docs.select("dec", F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.min("dec").alias("dec"))
    )
    trioc = (
        docs.select(
            "dec",
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) >= 3 THEN transform("
                    "  sequence(0, size(ws) - 3),"
                    "  i -> concat_ws(' ', slice(ws, i + 1, 3)))"
                    " ELSE array() END"
                )
            ).alias("t"),
        )
        .groupBy("t")
        .agg(F.min("dec").alias("dec"))
    )
    nw = wordocc.groupBy("dec").agg(
        F.count(F.lit(1)).cast("long").alias("new_word_types")
    )
    nt = trioc.groupBy("dec").agg(
        F.count(F.lit(1)).cast("long").alias("new_tri_types")
    )
    ten = (
        per_dec.join(nw, "dec", "left")
        .join(nt, "dec", "left")
        .select(
            F.col("dec").alias("decile"),
            "n_docs",
            "dec_tokens",
            F.coalesce("new_word_types", F.lit(0))
            .cast("long")
            .alias("new_word_types"),
            F.coalesce("new_tri_types", F.lit(0))
            .cast("long")
            .alias("new_tri_types"),
        )
    )
    w = Window.orderBy("decile")
    return ten.select(
        "decile",
        "n_docs",
        F.sum("dec_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("new_word_types").over(w).cast("long").alias("cum_word_types"),
        "new_tri_types",
        F.sum("new_tri_types").over(w).cast("long").alias("cum_tri_types"),
        F.expr(
            "CAST(SUM(new_tri_types) OVER (ORDER BY decile) * 1000000"
            " DIV SUM(dec_tokens) OVER (ORDER BY decile) AS BIGINT)"
        ).alias("tri_ttr_ppm"),
    ).orderBy("decile")
