"""Corpus-curation operators for LLM training-data pipelines (SURVEY.md §2B
[EXT] — the shaping steps between "raw corpus" and "training shards" that
the dedup/sampling families don't cover):

  * quality-rule filtering — Gopher/C4-style per-document rule battery
    (length bounds, mean word length, repetition, stopword presence) with
    per-rule drop accounting. All rules are INTEGER comparisons (e.g. mean
    word length ≥ 4 is written ``sum_len >= 4*n_words``), so the keep/drop
    decision is bit-identical across engines and reruns — no float
    thresholds at partition boundaries.
  * domain mixing — token-budget allocation across sources: upweighted
    domains get a larger share of a global token budget, realized as a
    per-source hash-bucket keep rate. The rate derivation is pure int64
    arithmetic; the keep decision is the same zero-shuffle md5-bucket
    filter as hash-stratified sampling.
  * train-shard assignment — epoch-deterministic global shuffle WITHOUT a
    global sort: shard = md5(doc_id:epoch) mod N is a pure map-side
    assignment (the only shuffle is the N-row shard summary), and a new
    epoch salt reshuffles every doc with zero state.
  * decontamination — train/eval n-gram overlap: eval-set shingles are a
    tiny DISTINCT set (benchmarks are small by construction) broadcast
    against the training corpus' shingle postings — the asymmetric variant
    of near-dup dedup, linear in corpus size, never corpus × corpus.
  * PII detection/redaction — regex battery (emails, phone numbers) with
    per-source accounting of hits and redacted bytes. The synthetic corpus
    carries no PII-shaped strings, so a deterministic subset of docs gets
    synthetic PII injected IN-QUERY (same expression on both engines) —
    the injected-duplicates trick from streaming dedup, applied to text.
  * incremental ingestion — dedup a NEW batch of documents within itself
    and against the historical corpus' content-hash index, the way a
    100 TB corpus actually ingests (the history is never re-deduped; the
    batch anti-joins a bucketed hash index).

No reference file:line exists for these (the reference executes no
analytics — SURVEY.md §2A); they are contract-mandated extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    adjacent_pairs,
    oracle_words,
    words,
)
from biglake_iceberg_python_spark.functions.twophase import two_phase_rank
from biglake_iceberg_python_spark.operators.dedup import _shingles
from biglake_iceberg_python_spark.operators.pipeline import (
    _md5_bucket,
    _oracle_md5_bucket,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

# Gopher-style rule thresholds, expressed so every rule is an integer
# comparison. Tuned to be non-degenerate on the synthetic corpus (every
# rule fires on some docs; ~28% of sf0.001 passes all four).
_MIN_WORDS, _MAX_WORDS = 20, 80
_MWL_MIN = 4  # mean word length >= 4  ⇔  sum_len >= 4 * n_words
_STOPWORDS = ("the", "a", "of", "to", "and")

# Domain mixing: upweighted "high-quality" sources and the global token
# budget as a fraction of the corpus (numerator/denominator kept integer).
_PREMIUM_SOURCES = ("src0", "src1", "src2", "src3", "src4")
_PREMIUM_WEIGHT, _BASE_WEIGHT = 3, 1
_BUDGET_NUM, _BUDGET_DEN = 1, 2  # budget = total_tokens / 2

_N_SHARDS = 8
_EPOCH_SALT = "epoch0"

# Decontamination: eval set = benchmark-sized fixed id range; 4-gram
# shingles; ≥2 distinct overlapping shingles flags a doc.
_EVAL_MAX_DOC = 40
_DECONTAM_NGRAM = 4
_DECONTAM_MIN_HITS = 2

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"


@query(
    "curate_gopher_filter",
    oracle=f"""
    WITH m AS (
      SELECT
        lang,
        len(ws) AS n,
        list_sum(list_transform(ws, x -> len(x))) AS sum_len,
        len(list_distinct(ws)) AS n_dist,
        len(list_intersect(ws, {_STOP_SQL})) > 0 AS has_stop
      FROM (
        SELECT lang, {oracle_words()} AS ws
        FROM documents
      )
    ), r AS (
      SELECT
        lang, n,
        n BETWEEN {_MIN_WORDS} AND {_MAX_WORDS} AS p_len,
        sum_len >= {_MWL_MIN} * n AS p_mwl,
        2 * n_dist >= n AS p_rep,
        has_stop AS p_stop
      FROM m
    )
    SELECT
      lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(*) FILTER (WHERE NOT p_len) AS BIGINT) AS f_len,
      CAST(COUNT(*) FILTER (WHERE NOT p_mwl) AS BIGINT) AS f_mwl,
      CAST(COUNT(*) FILTER (WHERE NOT p_rep) AS BIGINT) AS f_rep,
      CAST(COUNT(*) FILTER (WHERE NOT p_stop) AS BIGINT) AS f_stop,
      CAST(COUNT(*) FILTER (WHERE p_len AND p_mwl AND p_rep AND p_stop)
           AS BIGINT) AS n_kept,
      CAST(COALESCE(SUM(n) FILTER (WHERE p_len AND p_mwl AND p_rep
                                   AND p_stop), 0) AS BIGINT) AS kept_words
    FROM r GROUP BY lang
    """,
    tags=("llm", "curation", "quality-filter"),
)
def curate_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality-rule filter with per-rule drop accounting:
    word-count bounds, mean word length, repetition (distinct ratio), and
    stopword presence, rolled up per language.

    Every rule is a per-row integer comparison inside codegen — the filter
    is a pure map over the scan (predicate-pushdown friendly, zero
    shuffles before the per-lang rollup), and the keep/drop decision is
    engine- and partitioning-independent. Per-rule failure counts are what
    a production curation run ships to its data-quality dashboard.
    """
    d = load_table(spark, sf_dir, "documents")
    m = d.select("lang", words().alias("w")).select(
        "lang",
        F.size("w").alias("n"),
        F.aggregate(
            "w", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("sum_len"),
        F.size(F.array_distinct("w")).alias("n_dist"),
        F.arrays_overlap(
            "w", F.array(*[F.lit(s) for s in _STOPWORDS])
        ).alias("has_stop"),
    )
    r = m.select(
        "lang",
        "n",
        F.col("n").between(_MIN_WORDS, _MAX_WORDS).alias("p_len"),
        (F.col("sum_len") >= _MWL_MIN * F.col("n")).alias("p_mwl"),
        (2 * F.col("n_dist") >= F.col("n")).alias("p_rep"),
        F.col("has_stop").alias("p_stop"),
    )
    kept = F.col("p_len") & F.col("p_mwl") & F.col("p_rep") & F.col("p_stop")
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(~F.col("p_len"), 1)).alias("f_len"),
        F.count(F.when(~F.col("p_mwl"), 1)).alias("f_mwl"),
        F.count(F.when(~F.col("p_rep"), 1)).alias("f_rep"),
        F.count(F.when(~F.col("p_stop"), 1)).alias("f_stop"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n"))), F.lit(0)).alias("kept_words"),
    )


_PREMIUM_SQL = "(" + ", ".join(f"'{s}'" for s in _PREMIUM_SOURCES) + ")"


@query(
    "curate_domain_mix",
    oracle=f"""
    WITH tok AS (
      SELECT
        doc_id, source,
        len({oracle_words()}) AS n_tok,
        CASE WHEN source IN {_PREMIUM_SQL}
             THEN {_PREMIUM_WEIGHT} ELSE {_BASE_WEIGHT} END AS w
      FROM documents
    ), per_src AS (
      SELECT source, w, COUNT(*) AS n_docs, SUM(n_tok) AS src_tokens
      FROM tok GROUP BY source, w
    ), g AS (
      SELECT SUM(src_tokens) AS total_tokens, SUM(w) AS sum_w FROM per_src
    ), rates AS (
      SELECT
        s.source, s.n_docs, s.src_tokens,
        LEAST(1000, (1000 * {_BUDGET_NUM} * g.total_tokens * s.w)
                    // ({_BUDGET_DEN} * g.sum_w * s.src_tokens)) AS permille
      FROM per_src s CROSS JOIN g
    )
    SELECT
      t.source,
      CAST(r.n_docs AS BIGINT) AS n_docs,
      CAST(r.src_tokens AS BIGINT) AS src_tokens,
      CAST(r.permille AS BIGINT) AS permille,
      CAST(COUNT(*) FILTER (
        WHERE {_oracle_md5_bucket("t.doc_id", "mix", 1000)} < r.permille
      ) AS BIGINT) AS n_kept,
      CAST(COALESCE(SUM(t.n_tok) FILTER (
        WHERE {_oracle_md5_bucket("t.doc_id", "mix", 1000)} < r.permille
      ), 0) AS BIGINT) AS kept_tokens
    FROM tok t JOIN rates r USING (source)
    GROUP BY t.source, r.n_docs, r.src_tokens, r.permille
    """,
    tags=("llm", "curation", "domain-mix"),
)
def curate_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget domain mixing: allocate a global token budget (half the
    corpus) across sources proportionally to quality weights (premium
    sources 3×), derive each source's keep rate, and realize it as the
    deterministic md5-bucket filter.

    Scale shape: per-source totals are a tiny aggregate (|sources| rows)
    broadcast back onto the corpus — the wide data is touched by exactly
    one map-side filter and one per-source rollup. Rate derivation stays
    in int64 ((1000·B·w) div (sum_w·tokens)), so the mix is bit-stable
    however the corpus is partitioned. A changed weight table re-mixes
    with no other moving parts — this is the knob LLM data engineers turn
    between training runs.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.size(words()).alias("n_tok"),
        F.when(F.col("source").isin(*_PREMIUM_SOURCES), F.lit(_PREMIUM_WEIGHT))
        .otherwise(F.lit(_BASE_WEIGHT))
        .alias("w"),
    )
    per_src = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("src_tokens"),
    )
    g = per_src.agg(
        F.sum("src_tokens").alias("total_tokens"), F.sum("w").alias("sum_w")
    )
    rates = per_src.crossJoin(F.broadcast(g)).select(
        "source",
        "n_docs",
        "src_tokens",
        F.least(
            F.lit(1000),
            F.expr(
                f"(1000 * {_BUDGET_NUM} * total_tokens * w)"
                f" div ({_BUDGET_DEN} * sum_w * src_tokens)"
            ),
        ).alias("permille"),
    )
    keep = _md5_bucket(F.col("doc_id"), "mix", 1000) < F.col("permille")
    return (
        tok.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "src_tokens", "permille")
        .agg(
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("n_tok"))), F.lit(0)).alias(
                "kept_tokens"
            ),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("src_tokens").cast("long").alias("src_tokens"),
            F.col("permille").cast("long").alias("permille"),
            "n_kept",
            "kept_tokens",
        )
    )


# Temperature mixing: acceptance thresholds carry 6 decimal digits
# (micro-units), sampled with the house md5 bucket.
_TEMP_RATE_SCALE = 1_000_000
# Target token mass after mixing = 1/2 of the corpus (same budget as
# curate_domain_mix, so the two mixing policies are directly comparable).
_TEMP_BUDGET_NUM, _TEMP_BUDGET_DEN = 1, 2


@query(
    "curate_temperature_mix",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             len({oracle_words()}) AS n_tok
      FROM documents
    ), per_src AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS src_tokens,
             CAST(floor(sqrt(SUM(n_tok)) * 1000) AS BIGINT) AS q
      FROM tok GROUP BY source
    ), g AS (
      SELECT SUM(q) AS sum_q, SUM(src_tokens) AS total_tokens FROM per_src
    ), rates AS (
      SELECT source, n_docs, src_tokens,
             LEAST({_TEMP_RATE_SCALE},
               (CAST({_TEMP_RATE_SCALE} AS HUGEINT) * q
                * (total_tokens * {_TEMP_BUDGET_NUM} // {_TEMP_BUDGET_DEN}))
               // (CAST(sum_q AS HUGEINT) * src_tokens)) AS thr_micro
      FROM per_src CROSS JOIN g
    )
    SELECT
      r.source,
      CAST(r.n_docs AS BIGINT) AS n_docs,
      CAST(r.src_tokens AS BIGINT) AS src_tokens,
      CAST(r.thr_micro AS BIGINT) AS thr_micro,
      CAST(COUNT(*) FILTER (
        WHERE {_oracle_md5_bucket("t.doc_id", "temp", _TEMP_RATE_SCALE)}
              < r.thr_micro
      ) AS BIGINT) AS n_kept,
      CAST(COALESCE(SUM(t.n_tok) FILTER (
        WHERE {_oracle_md5_bucket("t.doc_id", "temp", _TEMP_RATE_SCALE)}
              < r.thr_micro
      ), 0) AS BIGINT) AS kept_tokens
    FROM tok t JOIN rates r USING (source)
    GROUP BY r.source, r.n_docs, r.src_tokens, r.thr_micro
    """,
    tags=("llm", "curation", "domain-mix", "temperature"),
)
def curate_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (the p^alpha recipe multilingual /
    multi-domain training mixes use): per-source sampling weight
    proportional to src_tokens^0.5, flattening the natural distribution so
    low-resource sources are over-represented relative to their raw share;
    the flattened weights allocate the same half-corpus token budget as
    curate_domain_mix, realized as the deterministic md5-bucket filter.

    alpha is fixed at 0.5 because sqrt is IEEE-correctly-rounded in every
    engine (libm pow is not), and the weight is then quantized to integer
    milli-units so the rate arithmetic — (SCALE*q*budget) div
    (sum_q*src_tokens) — runs in integer space end to end: the mix is
    bit-stable across engines and partitionings (the accumulation convention
    aggregates already follow; products run in HUGEINT/DECIMAL(38) so a
    petabyte-scale token census cannot overflow).

    Scale shape: identical to curate_domain_mix — one per-source rollup
    (|sources| rows), rates broadcast back, one map-side filter + rollup
    over the corpus. Two corpus passes total, the floor for any
    global-statistics-then-sample policy.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.size(words()).alias("n_tok"))
    per_src = tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("src_tokens"),
    ).withColumn(
        "q", F.floor(F.sqrt(F.col("src_tokens")) * 1000).cast("long")
    )
    g = per_src.agg(
        F.sum("q").alias("sum_q"), F.sum("src_tokens").alias("total_tokens")
    )
    rates = per_src.crossJoin(F.broadcast(g)).select(
        "source",
        "n_docs",
        "src_tokens",
        F.least(
            F.lit(_TEMP_RATE_SCALE).cast("long"),
            F.expr(
                f"CAST(CAST({_TEMP_RATE_SCALE} AS DECIMAL(38,0))"
                f" * CAST(q AS DECIMAL(38,0))"
                f" * CAST(total_tokens * {_TEMP_BUDGET_NUM}"
                f"        div {_TEMP_BUDGET_DEN} AS DECIMAL(38,0))"
                f" div (CAST(sum_q AS DECIMAL(38,0))"
                f"      * CAST(src_tokens AS DECIMAL(38,0))) AS BIGINT)"
            ),
        ).alias("thr_micro"),
    )
    keep = _md5_bucket(F.col("doc_id"), "temp", _TEMP_RATE_SCALE) < F.col(
        "thr_micro"
    )
    return (
        tok.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "src_tokens", "thr_micro")
        .agg(
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("n_tok"))), F.lit(0)).alias(
                "kept_tokens"
            ),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("src_tokens").cast("long").alias("src_tokens"),
            F.col("thr_micro").cast("long").alias("thr_micro"),
            "n_kept",
            "kept_tokens",
        )
    )


@query(
    "curate_train_shards",
    oracle=f"""
    WITH t AS (
      SELECT
        doc_id,
        len({oracle_words()}) AS n_tok,
        {_oracle_md5_bucket("doc_id", _EPOCH_SALT, _N_SHARDS)} AS shard_id,
        md5(CAST(doc_id AS VARCHAR) || ':{_EPOCH_SALT}') AS h
      FROM documents
    )
    SELECT
      CAST(shard_id AS BIGINT) AS shard_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
      CAST(arg_min(doc_id, h) AS BIGINT) AS first_doc
    FROM t GROUP BY shard_id
    """,
    tags=("llm", "curation", "sharding"),
)
def curate_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-deterministic training-order shuffle: shard assignment is
    md5(doc_id:epoch) mod N — a pure map-side computation with NO global
    sort and NO RNG state; within a shard, hash order is the read order
    (first_doc exposes it for verification). A new epoch salt is a full
    reshuffle for free.

    This is how training-data order works at 100 TB: a global
    ``ORDER BY rand()`` would range-partition the entire corpus through a
    sort, while the hash assignment shuffles nothing but the N-row
    summary. Shard sizes concentrate around corpus/N (md5 is uniform), so
    downstream readers stay balanced.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(words()).alias("n_tok"),
        _md5_bucket(F.col("doc_id"), _EPOCH_SALT, _N_SHARDS).alias("shard_id"),
        F.md5(
            F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(_EPOCH_SALT))
        ).alias("h"),
    )
    return t.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("shard_tokens"),
        F.min_by("doc_id", "h").cast("long").alias("first_doc"),
    )


@query(
    "curate_decontaminate",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {oracle_words()} AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, md5(g0) AS g FROM (
        SELECT doc_id,
          unnest(list_transform(
            range(1, len(ws) - {_DECONTAM_NGRAM - 2}),
            i -> array_to_string(ws[i:i + {_DECONTAM_NGRAM - 1}], ' '))) AS g0
        FROM w
      )
    ), ev AS (
      SELECT DISTINCT g FROM sh WHERE doc_id < {_EVAL_MAX_DOC}
    ), tr AS (
      SELECT doc_id, g FROM sh WHERE doc_id >= {_EVAL_MAX_DOC}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id
    ), hits AS (
      SELECT tr.doc_id, COUNT(*) AS n_hits
      FROM tr JOIN ev USING (g) GROUP BY tr.doc_id
    )
    SELECT
      CAST(h.doc_id AS BIGINT) AS doc_id,
      CAST(h.n_hits AS BIGINT) AS n_hits,
      CAST(s.n_shingles AS BIGINT) AS n_shingles
    FROM hits h JOIN sizes s USING (doc_id)
    WHERE h.n_hits >= {_DECONTAM_MIN_HITS}
    """,
    tags=("llm", "curation", "decontamination"),
)
def curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training docs sharing ≥2 distinct
    4-gram shingles with the (small, fixed) eval set — the asymmetric
    cousin of near-dup dedup, and a mandatory pre-training step so
    benchmark text doesn't leak into the corpus.

    Scale shape: the eval side is DISTINCT shingles of a benchmark-sized
    set — kilobytes, broadcast — so the corpus side is one scan + explode
    + broadcast-hash-join, linear in corpus size with no shuffle of the
    training text. Shingles are md5-shortened so the join carries 32-byte
    keys, not raw n-gram strings.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", words().alias("w"))
        .select(
            "doc_id",
            F.explode(_shingles("w", _DECONTAM_NGRAM)).alias("raw_g"),
        )
        .select("doc_id", F.md5("raw_g").alias("g"))
        .distinct()
    )
    ev = (
        sh.filter(F.col("doc_id") < _EVAL_MAX_DOC).select("g").distinct()
    )
    tr = sh.filter(F.col("doc_id") >= _EVAL_MAX_DOC)
    sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= _DECONTAM_MIN_HITS)
    )
    return hits.join(sizes, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
    )


# PII battery: injection selectors (deterministic, non-degenerate on the
# synthetic corpus — text has no digits or '@'), patterns, and the mask.
_EMAIL_EVERY, _PHONE_EVERY = 7, 11
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{4}\b"
_PII_MASK = "<PII>"


@query(
    "curate_pii_redact",
    oracle=f"""
    WITH injected AS (
      SELECT
        doc_id, source,
        text
          || CASE WHEN doc_id % {_EMAIL_EVERY} = 0
                  THEN ' reach user' || CAST(doc_id AS VARCHAR)
                       || '@example.com today' ELSE '' END
          || CASE WHEN doc_id % {_PHONE_EVERY} = 0
                  THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                            4, '0') || ' now' ELSE '' END
          AS text
      FROM documents
    ), scanned AS (
      SELECT
        source,
        len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
        len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
        len(text) - len(
          regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '{_PII_MASK}', 'g'),
                         '{_PHONE_RE}', '{_PII_MASK}', 'g')
        ) AS chars_redacted
      FROM injected
    )
    SELECT
      source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(*) FILTER (WHERE n_emails + n_phones > 0) AS BIGINT)
        AS docs_with_pii,
      CAST(SUM(n_emails) AS BIGINT) AS n_emails,
      CAST(SUM(n_phones) AS BIGINT) AS n_phones,
      CAST(SUM(chars_redacted) AS BIGINT) AS chars_redacted
    FROM scanned GROUP BY source
    """,
    tags=("llm", "curation", "pii"),
)
def curate_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction accounting: regex battery for emails and
    phone numbers, per-source rollup of documents flagged, hits by type,
    and bytes removed by masking.

    The synthetic corpus contains no PII-shaped strings, so a
    deterministic subset of documents (doc_id % 7 / % 11) gets a synthetic
    email / phone number appended IN-QUERY by the identical expression on
    both engines — the machinery under test (regexp count, global
    regexp_replace masking, byte accounting) is the production code path.

    Scale shape: pure map over the scan (regex in codegen, zero Python),
    one per-source rollup shuffle of a |sources|-cardinality key. Regex
    cost is linear in corpus bytes and embarrassingly parallel — exactly
    how C4's PII pass runs over a web crawl.
    """
    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % _EMAIL_EVERY == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com today"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % _PHONE_EVERY == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    F.lit(" now"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scanned = injected.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).alias("n_phones"),
        (
            F.length("text")
            - F.length(
                F.regexp_replace(
                    F.regexp_replace("text", _EMAIL_RE, _PII_MASK),
                    _PHONE_RE,
                    _PII_MASK,
                )
            )
        ).alias("chars_redacted"),
    )
    return scanned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("n_emails") + F.col("n_phones") > 0, 1)).alias(
            "docs_with_pii"
        ),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_phones").cast("long").alias("n_phones"),
        F.sum("chars_redacted").cast("long").alias("chars_redacted"),
    )


# Incremental ingestion: history/arrival split is a scale-free hash bucket
# (60% history). The dedup key is a LEADING-CONTENT fingerprint (md5 of the
# first 10 words) rather than the full-text hash: it catches
# boilerplate-prefixed near-copies, and — unlike full-text equality, which
# the synthetic corpus never repeats at the small sfs — it is
# non-degenerate at every sf (24 dup rows at sf0.001/0.01, 244 at sf0.1).
_HIST_PCT = 60
_FP_WORDS = 10


@query(
    "curate_incremental_ingest",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, source,
             md5(COALESCE(array_to_string(
               ({oracle_words()})
                 [1:{_FP_WORDS}], ' '), '')) AS h,
             {_oracle_md5_bucket("doc_id", "ingest", 100)} < {_HIST_PCT}
               AS is_hist
      FROM documents
    ), hist_hashes AS (
      SELECT DISTINCT h FROM tagged WHERE is_hist
    ), arrivals AS (
      SELECT doc_id, source, h,
             row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM tagged WHERE NOT is_hist
    )
    SELECT
      a.source,
      CAST(COUNT(*) AS BIGINT) AS n_arrivals,
      CAST(COUNT(*) FILTER (WHERE a.rn > 1) AS BIGINT) AS n_dup_in_batch,
      CAST(COUNT(*) FILTER (WHERE a.rn = 1 AND hh.h IS NOT NULL) AS BIGINT)
        AS n_dup_vs_history,
      CAST(COUNT(*) FILTER (WHERE a.rn = 1 AND hh.h IS NULL) AS BIGINT)
        AS n_ingested
    FROM arrivals a LEFT JOIN hist_hashes hh ON a.h = hh.h
    GROUP BY a.source
    """,
    tags=("llm", "curation", "incremental", "dedup"),
)
def curate_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: dedup a NEW document batch within
    itself (first-by-doc_id per fingerprint wins) and against the
    HISTORICAL corpus' fingerprint index, reporting per-source arrivals /
    in-batch dups / vs-history dups / net ingested. The key is a
    leading-content fingerprint (md5 of the first 10 words) — the
    boilerplate-prefix catcher; swap in sha2(text) for strict equality.

    This is how a 100 TB corpus actually grows: the history is never
    re-deduped — arrivals carry their fingerprint to a bucketed hash index
    and anti-join it. Shuffles are one window + one equi-join, both keyed
    on the 32-hex fingerprint (uniform, skew-free); shuffle rows carry
    hashes, never document bodies. On a real lakehouse the history index
    is bucketed by hash so the join co-locates with zero history movement;
    here both sides derive from one table and AQE picks the exchange.

    NULL text coalesces to '' on BOTH engines before the fingerprint
    (round-9 ADVICE): unguarded, Spark's concat_ws turns the NULL token
    array into '' (fingerprint md5('')) while DuckDB's array_to_string
    stays NULL — n_dup_vs_history / n_ingested diverge on any corpus with
    NULL documents, the exact hazard fixed in curate_dataset_card. The
    joined string needs its own COALESCE too: DuckDB 1.0.0's
    array_to_string returns NULL for an EMPTY list (a zero-token doc),
    not just a NULL one, while Spark's concat_ws returns '' — found by
    the round-10 NULL-corpus parity test, which compares engines rather
    than only checking Spark doesn't crash.
    """
    fp_words = words("text")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.concat_ws(" ", F.slice(fp_words, 1, _FP_WORDS))).alias("h"),
        (_md5_bucket(F.col("doc_id"), "ingest", 100) < _HIST_PCT).alias(
            "is_hist"
        ),
    )
    hist_hashes = d.filter("is_hist").select("h").distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    arrivals = (
        d.filter(~F.col("is_hist"))
        .withColumn("rn", F.row_number().over(w))
    )
    joined = arrivals.join(
        hist_hashes.withColumn("in_hist", F.lit(1)), "h", "left"
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_arrivals"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_dup_in_batch"),
        F.count(F.when((F.col("rn") == 1) & F.col("in_hist").isNotNull(), 1)).alias(
            "n_dup_vs_history"
        ),
        F.count(F.when((F.col("rn") == 1) & F.col("in_hist").isNull(), 1)).alias(
            "n_ingested"
        ),
    )


@query(
    "curate_dataset_card",
    oracle=f"""
    WITH t AS (
      -- (source, lang) key the datasheet rows; a doc with a NULL key
      -- belongs to no row (round-10 NULL-metadata probe: Spark's
      -- group-size re-joins drop NULL keys where this window keeps
      -- them — excluded on BOTH engines instead).
      SELECT
        doc_id, source, lang, n_chars,
        len({oracle_words()}) AS n_tok,
        md5(COALESCE(array_to_string(
          ({oracle_words()})
            [1:{_FP_WORDS}], ' '), '')) AS fp
      FROM documents
      WHERE source IS NOT NULL AND lang IS NOT NULL
    ), r AS (
      SELECT
        source, lang, n_tok, n_chars, fp,
        row_number() OVER (PARTITION BY source, lang
                           ORDER BY n_tok, doc_id) AS rn,
        COUNT(*) OVER (PARTITION BY source, lang) AS n
      FROM t
    )
    SELECT
      source, lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(MIN(n_tok) AS BIGINT) AS len_min,
      CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN n_tok END) AS BIGINT)
        AS len_p50,
      CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN n_tok END) AS BIGINT)
        AS len_p90,
      CAST(MAX(n_tok) AS BIGINT) AS len_max,
      CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_fp_dups
    FROM r GROUP BY source, lang
    """,
    tags=("llm", "curation", "dataset-card"),
)
def curate_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics: per (source, lang) document counts, token
    and byte totals, the token-length distribution (min / exact discrete
    p50 / p90 / max), and leading-content fingerprint duplicate counts —
    the datasheet a curated corpus ships with.

    Quantiles are DISCRETE and engine-exact: a rank over (n_tok, doc_id)
    picks the ceil(q·n)-th element with pure integer position arithmetic —
    no interpolation, no float thresholds, identical tie-breaks on both
    engines. (source, lang) has |sources|×|langs| ≈ dozens of values, so a
    group-partitioned rank window would funnel the corpus through dozens
    of tasks; the rank instead comes from the two-phase bucketed form
    (:func:`two_phase_rank`): length-range buckets rank in parallel and
    only each group's ≤4096-row bucket table crosses an ordered window.
    Group sizes are a map-side rollup broadcast back; the datasheet rollup
    itself is one exchange on (source, lang).

    NULL text coalesces to '' on BOTH engines (0 tokens, md5('')
    fingerprint): unguarded, Spark's concat_ws turns a NULL token array
    into '' while DuckDB's array_to_string stays NULL — diverging
    n_fp_dups — and the NULL n_tok ordering key would trip
    two_phase_rank's loud NULL-key guard on any corpus with NULL docs.
    The oracle additionally COALESCEs the joined string itself (round
    10): DuckDB 1.0.0's array_to_string returns NULL for an EMPTY list
    too, so a zero-token doc's fingerprint was NULL in DuckDB vs
    md5('') in Spark — off-by-one n_fp_dups whenever such docs exist.
    """
    # NULL (source, lang) keys excluded on both engines — see the
    # oracle CTE note.
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    ws = words("text")
    t = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(ws).cast("long").alias("n_tok"),
        F.md5(F.concat_ws(" ", F.slice(ws, 1, _FP_WORDS))).alias("fp"),
    ).localCheckpoint(eager=False)
    n_by_g = t.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    r = two_phase_rank(
        t, F.col("n_tok"), "doc_id", partition_cols=("source", "lang")
    ).withColumnRenamed("rk", "rn").join(F.broadcast(n_by_g), ["source", "lang"])
    return r.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("n_tok").cast("long").alias("len_min"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("n_tok"))
        ).cast("long").alias("len_p50"),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("n_tok"))
        ).cast("long").alias("len_p90"),
        F.max("n_tok").cast("long").alias("len_max"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("fp")))
        .cast("long")
        .alias("n_fp_dups"),
    )


@query(
    "curate_quality_weighted_sample",
    oracle=f"""
    WITH m AS (
      SELECT
        doc_id, source,
        len(ws) AS n,
        len(list_distinct(ws)) AS n_dist,
        {_oracle_md5_bucket("doc_id", "qws", 1000000)} AS bucket
      FROM (
        SELECT doc_id, source,
               {oracle_words()} AS ws
        FROM documents
      )
      WHERE len(ws) > 0
    ), kept AS (
      SELECT *, bucket * n < 1000000 * n_dist AS keep FROM m
    )
    SELECT
      source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
      CAST(COALESCE(SUM(n) FILTER (WHERE keep), 0) AS BIGINT) AS kept_words,
      CAST(SUM(n_dist) AS BIGINT) AS sum_quality_num,
      CAST(SUM(n) AS BIGINT) AS sum_quality_den
    FROM kept GROUP BY source
    """,
    tags=("llm", "curation", "sampling", "quality"),
)
def curate_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sampling: each document is kept with
    probability equal to its quality score — here the distinct-word ratio
    n_dist/n, the repetition signal from the Gopher battery — rather than
    a flat per-stratum rate. High-quality docs survive at ~1.0, repetitive
    docs proportionally less: importance sampling for corpus construction,
    with zero RNG state.

    The keep decision is the md5-bucket filter cross-multiplied against the
    score's exact numerator/denominator — ``bucket·n < 1e6·n_dist`` — so
    no division or float threshold ever enters the decision: any engine,
    rerun, or worker reaches the identical keep set (the same
    integer-cross-comparison trick as curate_domain_mix's rates).

    Scale shape: score and keep decision are pure map-side codegen over the
    scan (no joins — the score is per-row, unlike rate tables derived from
    corpus rollups); the only shuffle carries |sources| rows of accounting.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = words()
    m = d.select(
        "doc_id",
        "source",
        F.size(ws).alias("n"),
        F.size(F.array_distinct(ws)).alias("n_dist"),
        _md5_bucket(F.col("doc_id"), "qws", 1000000).alias("bucket"),
    ).filter(F.col("n") > 0)
    kept = m.withColumn(
        "keep", F.col("bucket") * F.col("n") < F.lit(1000000) * F.col("n_dist")
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("keep"), F.col("n"))), F.lit(0)
        ).cast("long").alias("kept_words"),
        F.sum("n_dist").cast("long").alias("sum_quality_num"),
        F.sum("n").cast("long").alias("sum_quality_den"),
    )


# Boilerplate: a 2-gram shingle present in ≥20% of a source's documents
# (5·df ≥ n_docs — integer cross-comparison, no float threshold).
_BOILER_NGRAM = 2
_BOILER_DF_MUL = 5


@query(
    "curate_boilerplate_strip",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             {oracle_words()} AS ws
      FROM documents
    ), ti AS (
      SELECT doc_id, source, ws,
             unnest(generate_series(1, len(ws) - {_BOILER_NGRAM - 1})) AS i
      FROM t
    ), inst AS (
      SELECT doc_id, source, ws[i] || ' ' || ws[i+1] AS shingle FROM ti
    ), dist AS (
      SELECT DISTINCT doc_id, source, shingle FROM inst
    ), dfs AS (
      SELECT source, shingle, COUNT(*) AS df FROM dist GROUP BY 1, 2
    ), nd AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
    ), flags AS (
      SELECT dfs.source, dfs.shingle,
             {_BOILER_DF_MUL} * dfs.df >= nd.n_docs AS is_boiler
      FROM dfs JOIN nd USING (source)
    ), ty AS (
      SELECT source,
             COUNT(*) AS n_types,
             COUNT(*) FILTER (WHERE is_boiler) AS n_boiler_types
      FROM flags GROUP BY source
    ), ins AS (
      SELECT i.source,
             COUNT(*) AS n_instances,
             COUNT(*) FILTER (WHERE f.is_boiler) AS n_boiler_instances
      FROM inst i JOIN flags f
        ON i.source = f.source AND i.shingle = f.shingle
      GROUP BY i.source
    )
    SELECT
      nd.source,
      CAST(nd.n_docs AS BIGINT) AS n_docs,
      CAST(ty.n_types AS BIGINT) AS n_types,
      CAST(ty.n_boiler_types AS BIGINT) AS n_boiler_types,
      CAST(ins.n_instances AS BIGINT) AS n_instances,
      CAST(ins.n_boiler_instances AS BIGINT) AS n_boiler_instances,
      CAST(ins.n_boiler_instances AS DOUBLE) / ins.n_instances
        AS boiler_frac
    FROM nd JOIN ty USING (source) JOIN ins USING (source)
    """,
    tags=("llm", "curation", "boilerplate"),
)
def curate_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detection, CCNet-style: a shingle that recurs
    across ≥20% of one source's documents is boilerplate (headers, nav
    text, license blurbs — the within-domain analog of dedup), accounted
    per source as the fraction of shingle instances a strip pass would
    remove. The threshold is the integer cross-comparison 5·df ≥ n_docs.

    Scale shape: two corpus explodes (distinct postings for doc-frequency,
    full instances for the strip accounting) — the same passes CCNet makes;
    both downstream joins key on (source, shingle), and the per-source doc
    counts broadcast. Document bodies never shuffle; the flag table is
    type-level. A real strip would keep the instances join and re-emit
    filtered text; the accounting here is the decision layer of that pass.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "source", words().alias("w"))
    # Docs shorter than the shingle width contribute NO shingles (round-10
    # degenerate sweep): _shingles' ELSE branch emits a whole-doc shingle
    # for short docs (the right call for MinHash, where short docs must
    # still get signatures), but boilerplate df-counting must not see a
    # shared '' shingle across empty docs — and the oracle's
    # generate_series(1, len-1) is empty for len < 2 already.
    inst = base.filter(F.size("w") >= _BOILER_NGRAM).select(
        "doc_id",
        "source",
        F.explode(_shingles("w", _BOILER_NGRAM)).alias("shingle"),
    )
    dist = inst.distinct()
    dfs = dist.groupBy("source", "shingle").agg(F.count(F.lit(1)).alias("df"))
    nd = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # The flag table is TYPE-level (one row per (source, shingle)) and is
    # consumed twice (type rollup + instance join): materialize it so the
    # doc-frequency build — which re-explodes the corpus — runs once.
    flags = (
        dfs.join(F.broadcast(nd), "source")
        .select(
            "source",
            "shingle",
            (F.lit(_BOILER_DF_MUL) * F.col("df") >= F.col("n_docs")).alias(
                "is_boiler"
            ),
        )
        .localCheckpoint(eager=False)
    )
    ty = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.count(F.when(F.col("is_boiler"), 1)).alias("n_boiler_types"),
    )
    ins = (
        inst.join(flags, ["source", "shingle"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_instances"),
            F.count(F.when(F.col("is_boiler"), 1)).alias("n_boiler_instances"),
        )
    )
    return (
        nd.join(ty, "source")
        .join(ins, "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_types").cast("long").alias("n_types"),
            F.col("n_boiler_types").cast("long").alias("n_boiler_types"),
            F.col("n_instances").cast("long").alias("n_instances"),
            F.col("n_boiler_instances").cast("long").alias("n_boiler_instances"),
            (
                F.col("n_boiler_instances").cast("double")
                / F.col("n_instances")
            ).alias("boiler_frac"),
        )
    )


@query(
    "curate_expectations",
    oracle="""
    WITH dup AS (
      SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
    ), checked AS (
      SELECT
        o.o_orderkey,
        o.o_totalprice > 0 AS p_price,
        o.o_orderstatus IN ('F', 'O', 'P') AS p_status,
        c.c_custkey IS NOT NULL AS p_ref,
        d.o_orderkey IS NULL AS p_unique
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN dup d ON o.o_orderkey = d.o_orderkey
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(*) FILTER (WHERE NOT p_price) AS BIGINT) AS v_price_positive,
      CAST(COUNT(*) FILTER (WHERE NOT p_status) AS BIGINT) AS v_status_domain,
      CAST(COUNT(*) FILTER (WHERE NOT p_ref) AS BIGINT) AS v_customer_ref,
      CAST(COUNT(*) FILTER (WHERE NOT p_unique) AS BIGINT) AS v_key_unique,
      CAST(COUNT(*) FILTER (
        WHERE p_price AND p_status AND p_ref AND p_unique
      ) AS BIGINT) AS n_clean
    FROM checked
    """,
    tags=("curation", "data-quality", "expectations"),
)
def curate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Deequ / dbt-tests
    pattern) validated in ONE pass: range (price > 0), domain (status in
    allowed set), referential integrity (custkey resolves against
    customer), and key uniqueness — each rule a boolean column, violations
    counted per rule plus the clean-row count that a quarantine split
    would pass through. Ingest gates at 100 TB run exactly this shape
    before committing a batch.

    Scale shape: domain/range rules are map-side codegen; the referential
    check joins the dimension key set unhinted — the key set is O(SF)
    rows, so AQE broadcasts it while small and flips to a custkey shuffle
    at warehouse scale (forcing the broadcast would OOM executors at
    100 TB). Uniqueness is a groupBy on the key whose duplicate list
    (usually ~empty — AQE sees its measured size and broadcasts it)
    joins back. One accounting aggregation, no second scan per rule.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("o_orderkey")
    )
    checked = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left")
        .join(dup.withColumnRenamed("o_orderkey", "dup_key"),
              F.col("o_orderkey") == F.col("dup_key"), "left")
        .select(
            (F.col("o_totalprice") > 0).alias("p_price"),
            F.col("o_orderstatus").isin("F", "O", "P").alias("p_status"),
            F.col("c_custkey").isNotNull().alias("p_ref"),
            F.col("dup_key").isNull().alias("p_unique"),
        )
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(~F.col("p_price"), 1)).alias("v_price_positive"),
        F.count(F.when(~F.col("p_status"), 1)).alias("v_status_domain"),
        F.count(F.when(~F.col("p_ref"), 1)).alias("v_customer_ref"),
        F.count(F.when(~F.col("p_unique"), 1)).alias("v_key_unique"),
        F.count(
            F.when(
                F.col("p_price")
                & F.col("p_status")
                & F.col("p_ref")
                & F.col("p_unique"),
                1,
            )
        ).alias("n_clean"),
    )


# URL canonicalization: variant-generation selectors and the regex chain.
# The synthetic corpus has no URL column, so each doc gets a deterministic
# raw URL built IN-QUERY (same expression both engines) with case noise,
# www/port/trailing-slash/fragment clutter, and tracking params — the
# variants a web crawl actually produces for one logical page.
_URL_SCHEME_RE = "^([A-Za-z]+)://"
_URL_HOST_RE = "^[A-Za-z]+://([^/?#]*)"
_URL_PATH_RE = "^[A-Za-z]+://[^/?#]*([^?#]*)"
_URL_QUERY_RE = r"\?([^#]*)"


def _oracle_url_canon_cte() -> str:
    """raw + parts + canon CTE bodies shared by the census query and the
    refresh pipeline (identical text keeps both oracles in lockstep)."""
    return f"""
    raw AS (
      SELECT
        doc_id, source, n_chars,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://'
        || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END)
        || '.Example.ORG'
        || (CASE WHEN doc_id % 8 = 0 THEN ':443' ELSE '' END)
        || '/articles/item' || CAST(doc_id % 25 AS VARCHAR)
        || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=x'
                 WHEN doc_id % 4 = 1 THEN '?ref=kept&utm_medium=social'
                 ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END)
        AS url
      FROM documents
    ), parts AS (
      SELECT
        doc_id, source, n_chars, url,
        lower(regexp_extract(url, '{_URL_SCHEME_RE}', 1)) AS scheme,
        regexp_replace(
          regexp_replace(lower(regexp_extract(url, '{_URL_HOST_RE}', 1)),
                         '^www\\.', ''),
          ':(443|80)$', '') AS host,
        regexp_replace(regexp_extract(url, '{_URL_PATH_RE}', 1), '/+$', '') AS path,
        array_to_string(
          list_filter(string_split(regexp_extract(url, '{_URL_QUERY_RE}', 1), '&'),
                      x -> x <> '' AND NOT starts_with(x, 'utm_')),
          '&') AS q
      FROM raw
    ), canon AS (
      SELECT
        doc_id, source, n_chars,
        scheme || '://' || host
          || (CASE WHEN path = '' THEN '/' ELSE path END)
          || (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS canonical_url
      FROM parts
    )"""


def _spark_url_canon(d: DataFrame) -> DataFrame:
    """documents → (doc_id, source, n_chars, canonical_url); the Spark twin
    of _oracle_url_canon_cte."""
    did = F.col("doc_id")
    raw = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.concat(
            F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
            F.lit("://"),
            F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.upper("source")).otherwise(F.col("source")),
            F.lit(".Example.ORG"),
            F.when(did % 8 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/articles/item"),
            (did % 25).cast("string"),
            F.when(did % 6 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(did % 4 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
            .when(did % 4 == 1, F.lit("?ref=kept&utm_medium=social"))
            .otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit("#top")).otherwise(F.lit("")),
        ).alias("url"),
    )
    scheme = F.lower(F.regexp_extract("url", _URL_SCHEME_RE, 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", _URL_HOST_RE, 1)), r"^www\.", ""
        ),
        ":(443|80)$",
        "",
    )
    path = F.regexp_replace(F.regexp_extract("url", _URL_PATH_RE, 1), "/+$", "")
    q = F.array_join(
        F.filter(
            F.split(F.regexp_extract("url", _URL_QUERY_RE, 1), "&"),
            lambda x: (x != "") & ~x.startswith("utm_"),
        ),
        "&",
    )
    return raw.select(
        "doc_id",
        "source",
        "n_chars",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(path == "", F.lit("/")).otherwise(path),
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ).alias("canonical_url"),
    )


@query(
    "curate_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT
        doc_id, source,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://'
        || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END)
        || '.Example.ORG'
        || (CASE WHEN doc_id % 8 = 0 THEN ':443' ELSE '' END)
        || '/articles/item' || CAST(doc_id % 25 AS VARCHAR)
        || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=x'
                 WHEN doc_id % 4 = 1 THEN '?ref=kept&utm_medium=social'
                 ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END)
        AS url
      FROM documents
    ), parts AS (
      SELECT
        source, url,
        lower(regexp_extract(url, '{_URL_SCHEME_RE}', 1)) AS scheme,
        regexp_replace(
          regexp_replace(lower(regexp_extract(url, '{_URL_HOST_RE}', 1)),
                         '^www\\.', ''),
          ':(443|80)$', '') AS host,
        regexp_replace(regexp_extract(url, '{_URL_PATH_RE}', 1), '/+$', '') AS path,
        array_to_string(
          list_filter(string_split(regexp_extract(url, '{_URL_QUERY_RE}', 1), '&'),
                      x -> x <> '' AND NOT starts_with(x, 'utm_')),
          '&') AS q
      FROM raw
    ), canon AS (
      SELECT
        source,
        scheme || '://' || host
          || (CASE WHEN path = '' THEN '/' ELSE path END)
          || (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS canonical_url
      FROM parts
    ), groups AS (
      SELECT source, canonical_url, COUNT(*) AS n_variants
      FROM canon GROUP BY source, canonical_url
    )
    SELECT
      source,
      CAST(SUM(n_variants) AS BIGINT) AS n_urls,
      CAST(COUNT(*) AS BIGINT) AS n_canonical,
      CAST(COUNT(*) FILTER (WHERE n_variants > 1) AS BIGINT) AS n_dup_groups,
      CAST(MAX(n_variants) AS BIGINT) AS max_group
    FROM groups GROUP BY source
    """,
    tags=("llm", "curation", "url", "dedup"),
)
def curate_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup accounting — the first pass of every
    web-crawl pipeline: scheme/host case folding, www and default-port
    stripping, trailing-slash and fragment removal, tracking-param
    (utm_*) filtering — then a per-source census of how many raw URLs
    collapse into each canonical page.

    Raw URLs are synthesized IN-QUERY from doc_id selectors (the corpus
    has no URL column) by the identical expression on both engines; the
    canonicalization chain under test is the production code path. Every
    step is regexp/string codegen — zero Python, zero extra scans.

    100 TB: map-side canonicalization, one shuffle on (source, canonical)
    — the same single-key dedup shape as `dedup_exact`, which this
    operator feeds in a real crawl.
    """
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = d.select(
        "source",
        F.concat(
            F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
            F.lit("://"),
            F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.upper("source")).otherwise(F.col("source")),
            F.lit(".Example.ORG"),
            F.when(did % 8 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/articles/item"),
            (did % 25).cast("string"),
            F.when(did % 6 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(did % 4 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
            .when(did % 4 == 1, F.lit("?ref=kept&utm_medium=social"))
            .otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit("#top")).otherwise(F.lit("")),
        ).alias("url"),
    )
    scheme = F.lower(F.regexp_extract("url", _URL_SCHEME_RE, 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", _URL_HOST_RE, 1)), r"^www\.", ""
        ),
        ":(443|80)$",
        "",
    )
    path = F.regexp_replace(F.regexp_extract("url", _URL_PATH_RE, 1), "/+$", "")
    q = F.array_join(
        F.filter(
            F.split(F.regexp_extract("url", _URL_QUERY_RE, 1), "&"),
            lambda x: (x != "") & ~x.startswith("utm_"),
        ),
        "&",
    )
    canon = raw.select(
        "source",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(path == "", F.lit("/")).otherwise(path),
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ).alias("canonical_url"),
    )
    groups = canon.groupBy("source", "canonical_url").agg(
        F.count(F.lit(1)).alias("n_variants")
    )
    return groups.groupBy("source").agg(
        F.sum("n_variants").cast("long").alias("n_urls"),
        F.count(F.lit(1)).alias("n_canonical"),
        F.count(F.when(F.col("n_variants") > 1, 1)).alias("n_dup_groups"),
        F.max("n_variants").cast("long").alias("max_group"),
    )


@query(
    "curate_winsorize",
    oracle="""
    WITH ranked AS (
      -- n_chars IS NOT NULL: a lengthless doc has no place in a length
      -- distribution, and a NULL rank key trips two_phase_rank's loud
      -- NULL-key guard on the Spark side (round-10 NULL-metadata probe).
      SELECT
        lang, n_chars,
        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
        COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
    ), cut AS (
      SELECT
        lang, n_chars, rk, n_lang,
        MAX(CASE WHEN rk = (5 * n_lang + 99) // 100 THEN n_chars END)
          OVER (PARTITION BY lang) AS lo_cut,
        MAX(CASE WHEN rk = (95 * n_lang + 99) // 100 THEN n_chars END)
          OVER (PARTITION BY lang) AS hi_cut
      FROM ranked
    )
    SELECT
      lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(MAX(lo_cut) AS BIGINT) AS lo_cut,
      CAST(MAX(hi_cut) AS BIGINT) AS hi_cut,
      CAST(COUNT(*) FILTER (WHERE n_chars < lo_cut) AS BIGINT) AS n_clipped_lo,
      CAST(COUNT(*) FILTER (WHERE n_chars > hi_cut) AS BIGINT) AS n_clipped_hi,
      CAST(SUM(LEAST(GREATEST(n_chars, lo_cut), hi_cut)) AS BIGINT)
        AS sum_winsorized
    FROM cut GROUP BY lang
    """,
    tags=("llm", "curation", "statistics"),
)
def curate_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — clip per-language document lengths at the exact
    discrete p05/p95 before computing corpus statistics, so a few giant or
    truncated documents can't skew downstream quality thresholds.

    The cutoffs are EXACT order statistics (value at rank ⌈0.05·n⌉ /
    ⌈0.95·n⌉, rank and ceiling in pure integer arithmetic with a doc_id
    tiebreak), not interpolated percentiles whose formulas differ by
    engine — so clip decisions, clipped counts, and the winsorized sum are
    all integers and hash-match the oracle.

    100 TB: lang has handful cardinality, so a lang-partitioned rank
    window would funnel the corpus through a few tasks (the failure mode
    the old docstring hedged with a KLL swap). Ranks instead come from the
    two-phase bucketed form (:func:`two_phase_rank`): length-range buckets
    rank in parallel and only each language's ≤4096-row bucket table
    crosses an ordered window. The two cutoff rows collapse to a
    |langs|-row table broadcast back onto the narrow (lang, n_chars)
    projection for the clip rollup — every corpus-sized pass is
    column-pruned and embarrassingly parallel.
    """
    # Narrow 3-column projection materialized once: the two-phase rank,
    # the lang sizes, and the clip join otherwise each re-scan documents.
    # lang IS NOT NULL too (round-10 NULL-metadata probe): the per-lang
    # cut tables re-join on lang, where a NULL key silently drops the
    # group Spark-side while the oracle's PARTITION BY window keeps it —
    # an unattributable doc belongs to no language's distribution.
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .select("lang", "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .localCheckpoint(eager=False)
    )
    n_by_lang = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    ranked = two_phase_rank(
        d, F.col("n_chars"), "doc_id", partition_cols=("lang",)
    ).join(F.broadcast(n_by_lang), "lang")
    lo_rank = F.expr("(5 * n_lang + 99) div 100")
    hi_rank = F.expr("(95 * n_lang + 99) div 100")
    cuts = ranked.groupBy("lang").agg(
        F.max(F.when(F.col("rk") == lo_rank, F.col("n_chars"))).alias("lo_cut"),
        F.max(F.when(F.col("rk") == hi_rank, F.col("n_chars"))).alias("hi_cut"),
    )
    cut = d.join(F.broadcast(cuts), "lang")
    clipped = F.least(F.greatest(F.col("n_chars"), F.col("lo_cut")), F.col("hi_cut"))
    return cut.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("lo_cut").cast("long").alias("lo_cut"),
        F.max("hi_cut").cast("long").alias("hi_cut"),
        F.count(F.when(F.col("n_chars") < F.col("lo_cut"), 1)).alias("n_clipped_lo"),
        F.count(F.when(F.col("n_chars") > F.col("hi_cut"), 1)).alias("n_clipped_hi"),
        F.sum(clipped).cast("long").alias("sum_winsorized"),
    )


@query(
    "curate_url_refresh_pipeline",
    oracle=None,  # assembled below (needs the retrieval module's BM25 CTE)
    tags=("llm", "curation", "pipeline", "url", "retrieval"),
)
def curate_url_refresh_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web-corpus refresh over this round's operators, fused
    into ONE dataflow: canonicalize crawl URLs → keep the LONGEST document
    per canonical page (dedup policy) → score survivors with BM25 →
    per-source accounting: raw pages, kept pages, bytes reclaimed by the
    URL dedup, and the kept docs' total BM25 relevance mass.

    Composition is the point (the `pipeline_corpus_build` pattern): each
    stage is individually hash-verified elsewhere; this query proves they
    compose without materialization barriers. Canonicalization and the
    keep-longest window ride one (source-prefixed) exchange; BM25 joins
    on doc_id AFTER survivors shrink the corpus; accounting is a
    |sources|-row rollup.
    """
    from biglake_iceberg_python_spark.operators.retrieval import _spark_bm25

    d = load_table(spark, sf_dir, "documents")
    canon = _spark_url_canon(d)
    w = Window.partitionBy("source", "canonical_url").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    ranked = canon.withColumn("rk", F.row_number().over(w))
    kept = ranked.filter(F.col("rk") == 1).select(
        "doc_id", "source", F.col("n_chars").alias("kept_chars")
    )
    bm25 = _spark_bm25(spark, sf_dir).select("doc_id", "bm25_micro")
    scored = kept.join(bm25, "doc_id", "left")
    per_canon = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count(F.when(F.col("rk") == 1, 1)).alias("n_kept"),
        F.sum(F.when(F.col("rk") > 1, F.col("n_chars"))).alias("bytes_reclaimed"),
    )
    relevance = scored.groupBy("source").agg(
        F.sum(F.coalesce(F.col("bm25_micro"), F.lit(0)))
        .cast("long")
        .alias("kept_bm25_micro")
    )
    return per_canon.join(relevance, "source").select(
        "source",
        "n_raw",
        "n_kept",
        F.coalesce(F.col("bytes_reclaimed"), F.lit(0))
        .cast("long")
        .alias("bytes_reclaimed"),
        "kept_bm25_micro",
    )


def _install_refresh_oracle() -> None:
    from biglake_iceberg_python_spark.operators.retrieval import _oracle_bm25
    from biglake_iceberg_python_spark.plans.registry import REGISTRY

    REGISTRY["curate_url_refresh_pipeline"].oracle = f"""
    WITH {_oracle_url_canon_cte()},
    ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source, canonical_url
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM canon
    ), bm25 AS (
      SELECT doc_id, bm25_micro FROM ({_oracle_bm25()})
    ), per_canon AS (
      SELECT source,
             COUNT(*) AS n_raw,
             COUNT(*) FILTER (WHERE rk = 1) AS n_kept,
             COALESCE(SUM(n_chars) FILTER (WHERE rk > 1), 0) AS bytes_reclaimed
      FROM ranked GROUP BY source
    ), relevance AS (
      SELECT r.source, SUM(COALESCE(b.bm25_micro, 0)) AS kept_bm25_micro
      FROM ranked r LEFT JOIN bm25 b ON r.doc_id = b.doc_id
      WHERE r.rk = 1
      GROUP BY r.source
    )
    SELECT
      p.source,
      CAST(p.n_raw AS BIGINT) AS n_raw,
      CAST(p.n_kept AS BIGINT) AS n_kept,
      CAST(p.bytes_reclaimed AS BIGINT) AS bytes_reclaimed,
      CAST(r.kept_bm25_micro AS BIGINT) AS kept_bm25_micro
    FROM per_canon p JOIN relevance r ON p.source = r.source
    """


_install_refresh_oracle()


_KANON_K = 5
_KANON_CHARS_BUCKET = 50


@query(
    "curate_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT lang, source,
             (n_chars // {_KANON_CHARS_BUCKET}) * {_KANON_CHARS_BUCKET}
               AS chars_bucket
      FROM documents
    ), cls AS (
      SELECT lang, source, chars_bucket, COUNT(*) AS cls_size
      FROM qi GROUP BY lang, source, chars_bucket
    )
    SELECT
      lang,
      CAST(COUNT(*) AS BIGINT) AS n_classes,
      CAST(COUNT(*) FILTER (WHERE cls_size < {_KANON_K}) AS BIGINT)
        AS n_violating,
      CAST(SUM(CASE WHEN cls_size < {_KANON_K} THEN cls_size ELSE 0 END)
        AS BIGINT) AS rows_to_suppress,
      CAST(MIN(cls_size) AS BIGINT) AS min_class,
      CAST(SUM(cls_size) AS BIGINT) AS n_rows
    FROM cls GROUP BY lang
    """,
    tags=("llm", "curation", "privacy", "k-anonymity"),
)
def curate_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the structural privacy check that PII regexes
    (`curate_pii_redact`) cannot do: any combination of quasi-identifiers
    (language × source × bucketed length) shared by fewer than k rows can
    single out individuals even with direct identifiers stripped. Reports,
    per language: equivalence classes, violating classes, rows that
    suppression would cost, and the worst class size — the numbers a data
    release signs off on.

    Pure integer bucketing and counting: one shuffle on the
    quasi-identifier tuple (map-side combined), one tiny per-language
    rollup — the same two-level shape as the URL-canonicalization census.
    """
    d = load_table(spark, sf_dir, "documents")
    qi = d.select(
        "lang",
        "source",
        (
            F.floor(F.col("n_chars") / _KANON_CHARS_BUCKET) * _KANON_CHARS_BUCKET
        ).alias("chars_bucket"),
    )
    cls = qi.groupBy("lang", "source", "chars_bucket").agg(
        F.count(F.lit(1)).alias("cls_size")
    )
    return cls.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.count(F.when(F.col("cls_size") < _KANON_K, 1)).alias("n_violating"),
        F.sum(
            F.when(F.col("cls_size") < _KANON_K, F.col("cls_size")).otherwise(0)
        )
        .cast("long")
        .alias("rows_to_suppress"),
        F.min("cls_size").cast("long").alias("min_class"),
        F.sum("cls_size").cast("long").alias("n_rows"),
    )


_BLOOM_BITS = 4096
_BLOOM_K = 3


def _bloom_pos_sql(hexpr: str, j: int) -> str:
    return (
        f"('0x' || substr(md5({hexpr} || ':b{j}'), 1, 8))::BIGINT"
        f" % {_BLOOM_BITS}"
    )


def _bloom_pos_col(col, j: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f":b{j}"))), 1, 8), 16, 10
        ).cast("long")
        % _BLOOM_BITS
    )


@query(
    "curate_incremental_ingest_bloom",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             md5(COALESCE(array_to_string(
               {oracle_words()}[1:{_FP_WORDS}],
               ' '), '')) AS h,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ingest'), 1, 8))::BIGINT
               % 100 < {_HIST_PCT} AS is_hist
      FROM documents
    ), hist AS (
      SELECT DISTINCT h FROM d WHERE is_hist
    ), bits AS (
      SELECT DISTINCT b FROM (
        {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('h', j)} AS b FROM hist" for j in range(_BLOOM_K))}
      )
    ), arrivals AS (
      SELECT doc_id, source, h,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
             {" AND ".join(f"{_bloom_pos_sql('h', j)} IN (SELECT b FROM bits)" for j in range(_BLOOM_K))}
               AS maybe_dup
      FROM d WHERE NOT is_hist
    )
    SELECT
      a.source,
      CAST(COUNT(*) AS BIGINT) AS n_arrivals,
      CAST(COUNT(*) FILTER (WHERE NOT a.maybe_dup) AS BIGINT) AS n_fast_path,
      CAST(COUNT(*) FILTER (WHERE a.rn = 1 AND hist.h IS NULL) AS BIGINT)
        AS n_ingested
    FROM arrivals a LEFT JOIN hist ON a.h = hist.h
    GROUP BY a.source
    """,
    tags=("llm", "curation", "bloom", "incremental"),
)
def curate_incremental_ingest_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental ingestion — the mostly-unique fast
    path for `curate_incremental_ingest`: a {k}-hash/{m}-bit Bloom filter
    over the history's fingerprints screens arrivals BEFORE the history
    join; bloom-NEGATIVE rows are definitely new (no false negatives) and
    skip the join, so on a mostly-novel 100 TB crawl the join shrinks to
    the possible-duplicate sliver for the cost of one broadcast bit set.

    The filter is built from DataFrame primitives (md5-derived bit
    positions, distinct-collected and broadcast) rather than Catalyst's
    internal bloom expression — which makes it CROSS-ENGINE REPLICABLE:
    the oracle constructs the identical filter, so the fast-path split
    itself is hash-verified, not just the final accounting. Two
    broadcasts (bit set, then the slow path's history anti-join side),
    shuffles carry fingerprints only.

    Fingerprint degenerate-doc guard (round-10 array_to_string audit,
    same fix as curate_incremental_ingest): NULL/zero-token docs must
    fingerprint as md5('') on BOTH engines — unguarded, DuckDB's h was
    NULL, its bloom positions md5(NULL || ':bj') were NULL, and
    maybe_dup became NULL (excluded from the NOT-filter), so n_fast_path
    diverged on any corpus with NULL documents.
    """
    fp_words = words("text")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.concat_ws(" ", F.slice(fp_words, 1, _FP_WORDS))).alias("h"),
        (_md5_bucket(F.col("doc_id"), "ingest", 100) < _HIST_PCT).alias(
            "is_hist"
        ),
    )
    hist = d.filter("is_hist").select("h").distinct()
    bits = None
    for j in range(_BLOOM_K):
        part = hist.select(_bloom_pos_col(F.col("h"), j).alias("b"))
        bits = part if bits is None else bits.unionAll(part)
    bit_arr = bits.distinct().agg(F.collect_set("b").alias("bits"))
    w = Window.partitionBy("h").orderBy("doc_id")
    maybe = None
    for j in range(_BLOOM_K):
        t = F.array_contains(F.col("bits"), _bloom_pos_col(F.col("h"), j))
        maybe = t if maybe is None else (maybe & t)
    arrivals = (
        d.filter(~F.col("is_hist"))
        .withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(bit_arr))
        .withColumn("maybe_dup", maybe)
        .drop("bits")
    )
    fast = arrivals.filter(~F.col("maybe_dup")).withColumn(
        "in_hist", F.lit(None).cast("int")
    )
    slow = arrivals.filter(F.col("maybe_dup")).join(
        F.broadcast(hist.withColumn("in_hist", F.lit(1))), "h", "left"
    )
    both = fast.select("source", "rn", "maybe_dup", "in_hist").unionAll(
        slow.select("source", "rn", "maybe_dup", "in_hist")
    )
    return both.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_arrivals"),
        F.count(F.when(~F.col("maybe_dup"), 1)).alias("n_fast_path"),
        F.count(
            F.when((F.col("rn") == 1) & F.col("in_hist").isNull(), 1)
        ).alias("n_ingested"),
    )


@query(
    "pipeline_release_gate",
    oracle=f"""
    WITH {_oracle_url_canon_cte()},
    urldup AS (
      SELECT source, COUNT(*) AS n_raw,
             COUNT(*) - COUNT(DISTINCT canonical_url) AS n_dup
      FROM canon GROUP BY source
    ), kanon AS (
      SELECT source, COUNT(*) AS n_violating FROM (
        SELECT source, lang,
               (n_chars // {_KANON_CHARS_BUCKET}) * {_KANON_CHARS_BUCKET} AS cb,
               COUNT(*) AS cls
        FROM documents GROUP BY source, lang, cb
      ) WHERE cls < {_KANON_K}
      GROUP BY source
    ), sniff AS (
      SELECT source, COUNT(*) AS n_mismatch FROM (
        SELECT source,
          CASE WHEN doc_id % 3 = 0 THEN 'image/png' ELSE 'text/plain' END
            AS declared,
          CASE WHEN doc_id % 11 = 0 THEN 'image/png'
               WHEN doc_id % 7 = 0 THEN 'audio/wav'
               WHEN doc_id % 5 = 0 THEN 'image/jpeg'
               ELSE 'text/plain' END AS sniffed
        FROM documents
      ) WHERE declared <> sniffed
      GROUP BY source
    )
    SELECT
      u.source,
      CAST(u.n_raw AS BIGINT) AS n_docs,
      CAST(u.n_dup AS BIGINT) AS url_dups,
      CAST(COALESCE(k.n_violating, 0) AS BIGINT) AS kanon_violations,
      CAST(COALESCE(s.n_mismatch, 0) AS BIGINT) AS mime_mismatches,
      CASE WHEN u.n_dup * 10 <= u.n_raw * 3
            AND COALESCE(s.n_mismatch, 0) * 10 <= u.n_raw * 4
           THEN 1 ELSE 0 END AS release_ok
    FROM urldup u
    LEFT JOIN kanon k ON u.source = k.source
    LEFT JOIN sniff s ON u.source = s.source
    """,
    tags=("llm", "curation", "pipeline", "release-gate"),
)
def pipeline_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELEASE GATE — the per-source scorecard a dataset ships or
    blocks on, composing this round's safety battery in one dataflow:
    URL-duplicate rate (canonicalization), k-anonymity violations
    (quasi-identifier classes under k WITHIN the source), and magic-byte
    MIME mismatches, plus the release decision itself (dup rate ≤ 30%
    and mismatch rate ≤ 40% — thresholds as integer
    cross-multiplications). The ORACLE ENCODES THE DECISION RULE, so a
    gate that drifts on any signal or on the rule flips its hash — the
    `lakehouse_write_audit_publish` discipline applied to corpus release.

    All three signals are map-side classifications plus small-key
    rollups; the scorecard join carries |sources| rows.
    """
    d = load_table(spark, sf_dir, "documents")
    canon = _spark_url_canon(d)
    urldup = canon.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        (F.count(F.lit(1)) - F.count_distinct("canonical_url")).alias("n_dup"),
    )
    kanon = (
        d.select(
            "source",
            "lang",
            (
                F.floor(F.col("n_chars") / _KANON_CHARS_BUCKET)
                * _KANON_CHARS_BUCKET
            ).alias("cb"),
        )
        .groupBy("source", "lang", "cb")
        .agg(F.count(F.lit(1)).alias("cls"))
        .filter(F.col("cls") < _KANON_K)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_violating"))
    )
    did = F.col("doc_id")
    declared = F.when(did % 3 == 0, F.lit("image/png")).otherwise(
        F.lit("text/plain")
    )
    sniffed = (
        F.when(did % 11 == 0, F.lit("image/png"))
        .when(did % 7 == 0, F.lit("audio/wav"))
        .when(did % 5 == 0, F.lit("image/jpeg"))
        .otherwise(F.lit("text/plain"))
    )
    sniff = (
        d.select("source", declared.alias("dm"), sniffed.alias("sm"))
        .filter(F.col("dm") != F.col("sm"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_mismatch"))
    )
    joined = (
        urldup.join(F.broadcast(kanon), "source", "left")
        .join(F.broadcast(sniff), "source", "left")
        .select(
            "source",
            F.col("n_raw").cast("long").alias("n_docs"),
            F.col("n_dup").cast("long").alias("url_dups"),
            F.coalesce(F.col("n_violating"), F.lit(0))
            .cast("long")
            .alias("kanon_violations"),
            F.coalesce(F.col("n_mismatch"), F.lit(0))
            .cast("long")
            .alias("mime_mismatches"),
            F.when(
                (F.col("n_dup") * 10 <= F.col("n_raw") * 3)
                & (
                    F.coalesce(F.col("n_mismatch"), F.lit(0)) * 10
                    <= F.col("n_raw") * 4
                ),
                1,
            )
            .otherwise(0)
            .alias("release_ok"),
        )
    )
    return joined


def _vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-500 vocabulary by (count DESC, word): the pre-checkpoint
    subplan of curate_negative_sampling, split out so the plan test can
    pin its TakeOrderedAndProject shape directly."""
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(F.explode(words("text")).alias("word"))
    counts = exploded.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    return counts.orderBy(F.col("c").desc(), "word").limit(500)


@query(
    "curate_negative_sampling",
    oracle=f"""
    WITH words AS (
      SELECT unnest({oracle_words()})
        AS word
      FROM documents
    ), counts AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY word
    ), topk AS (
      SELECT word, c FROM counts ORDER BY c DESC, word LIMIT 500
    ), wt AS (
      SELECT word, c,
             CAST(FLOOR(SQRT(SQRT(CAST(c AS DOUBLE) * c * c)) * 1000)
               AS BIGINT) AS w_milli
      FROM topk
    )
    SELECT word, c, w_milli,
           CAST(SUM(w_milli) OVER (ORDER BY c DESC, word
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w_milli,
           CAST(w_milli * 1000000 // SUM(w_milli) OVER () AS BIGINT)
             AS sample_ppm
    FROM wt
    """,
    tags=("curate", "sampling", "unigram", "word2vec"),
)
def curate_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram^0.75 negative-sampling table (word2vec / contrastive
    pre-training): per-word sampling weight c^{3/4}, the cumulative-weight
    column an inverse-CDF sampler binary-searches, and each word's share
    of the draw in ppm.

    The 3/4 power is computed WITHOUT libm: c^{3/4} = sqrt(sqrt(c^3)),
    and IEEE 754 specifies sqrt and multiply as correctly rounded (unlike
    ln/exp/pow, which shipped a driver-red row twice — see
    tests/test_registry.py::test_no_oracle_emits_raw_transcendental; sqrt
    is explicitly exempt there). int64→double conversion and the double
    multiplies are also fully IEEE-specified, so
    ``FLOOR(SQRT(SQRT(c·c·c)) * 1000)`` is bit-identical across engines
    for any count up to 2^53^{1/3} per factor — far past any real corpus'
    word frequency. Weights then quantize to integer milli-units, so the
    cumulative sums are exact integer arithmetic.

    Scale shape: explode→count is ONE map-side-combined shuffle on the
    word key (the word-TYPE table is orders of magnitude smaller than the
    corpus — same regime as text_bpe_pair_stats); the top-500 cut is
    TakeOrderedAndProject (no global range-sort of the vocabulary — the
    cut is localCheckpoint-materialized so the limit is TERMINAL in its
    own job; left inline, Catalyst plans the window-consumed limit as a
    full rangepartitioning sort, measured in the plan test); only then —
    on the fixed-size 500-row table — does the cumulative window run in a
    single bounded partition. Nothing corpus-sized crosses an exchange
    after the first rollup. At 100 TB the vocabulary table is the only
    growing intermediate, and it grows with type count, not token count.
    """
    topk = _vocab_topk(spark, sf_dir).localCheckpoint(eager=False)
    wt = topk.select(
        "word",
        F.col("c").cast("long").alias("c"),
        F.expr(
            "CAST(FLOOR(SQRT(SQRT(CAST(c AS DOUBLE) * c * c)) * 1000)"
            " AS BIGINT)"
        ).alias("w_milli"),
    )
    cum_w = (
        Window.orderBy(F.col("c").desc(), "word")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return wt.select(
        "word",
        "c",
        "w_milli",
        F.sum("w_milli").over(cum_w).cast("long").alias("cum_w_milli"),
        F.expr("w_milli * 1000000")
        .alias("_num"),
        F.sum("w_milli").over(Window.partitionBy()).alias("_tot"),
    ).select(
        "word",
        "c",
        "w_milli",
        "cum_w_milli",
        F.expr("CAST(_num DIV _tot AS BIGINT)").alias("sample_ppm"),
    )


_DSIR_TARGET = "src0"  # proxy target domain for importance weights
_DSIR_TOP = 20


_DSIR_MODEL_SQL = f"""
    WITH t AS (
      SELECT doc_id, source,
             {oracle_words()} AS ws
      FROM {{documents}}
    ), ti AS (
      SELECT doc_id, source, ws,
             unnest(generate_series(1, len(ws) - 1)) AS i
      FROM t
    ), b AS (
      SELECT doc_id, source, ws[i] AS w1, ws[i+1] AS w2 FROM ti
    ), mb AS (
      SELECT w1, w2,
             CAST(COUNT(*) AS BIGINT) AS cr,
             CAST(COUNT(*) FILTER (WHERE source = '{{target}}') AS BIGINT)
               AS ct
      FROM b GROUP BY w1, w2
    ), tot AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS nr,
             CAST(SUM(ct) AS BIGINT) AS nt,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM mb
    )
"""


def _dsir_oracle(sf_dir: str) -> str:
    """Data-dependent oracle (the micro-nat literal recipe): DuckDB
    rebuilds the bigram model; ln(ct+1) and ln(cr+1) enter as
    Python-decimal micro-nat literals keyed on the Zipf-collapsed
    distinct-count domains, and the two corpus-total terms fold into ONE
    integer constant — no ln runs in either engine, retiring this
    query's raw-round lint exemption."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat,
        micro_nat_shift_pairs,
        micro_nat_shift_values_sql,
    )

    con = duckdb.connect()
    body = _DSIR_MODEL_SQL.format(
        documents=f"read_parquet('{sf_dir}/documents.parquet')",
        target=_DSIR_TARGET,
    )
    crs = [r[0] for r in con.execute(
        body + " SELECT DISTINCT cr FROM mb"
    ).fetchall()]
    cts = [r[0] for r in con.execute(
        body + " SELECT DISTINCT ct FROM mb"
    ).fetchall()]
    nr, nt, v = con.execute(
        body + " SELECT nr, nt, v FROM tot"
    ).fetchone() or (0, 0, 0)
    con.close()
    nr, nt, v = nr or 0, nt or 0, v or 0
    const = (
        micro_nat(nr + v) - micro_nat(nt + v)
        if nr + v >= 1 and nt + v >= 1
        else 0
    )
    lncr = micro_nat_shift_values_sql(micro_nat_shift_pairs(crs, 1))
    lnct = micro_nat_shift_values_sql(micro_nat_shift_pairs(cts, 1))
    body = _DSIR_MODEL_SQL.format(documents="documents", target=_DSIR_TARGET)
    return f"""
    {body},
    lncr_tab(cv, micro) AS (VALUES {lncr}),
    lnct_tab(cv, micro) AS (VALUES {lnct}),
    model AS (
      SELECT mb.w1, mb.w2,
             lt.micro - lr.micro + CAST({const} AS BIGINT) AS lr_micro
      FROM mb
      JOIN lncr_tab lr ON lr.cv = mb.cr
      JOIN lnct_tab lt ON lt.cv = mb.ct
    ), scored AS (
      SELECT b.doc_id, b.source,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(m.lr_micro) AS BIGINT) AS score_micro
      FROM b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
      GROUP BY b.doc_id, b.source
    )
    SELECT doc_id, source, n_bigrams, score_micro
    FROM scored ORDER BY score_micro DESC, doc_id LIMIT {_DSIR_TOP}
    """


@query(
    "curate_dsir_select",
    oracle_builder=_dsir_oracle,
    tags=("llm", "curate", "dsir", "importance-sampling"),
)
def curate_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS'23): rank raw-corpus documents by how much more likely a
    TARGET-domain bigram model finds them than the raw-corpus model,
    log w(x) = Σ_g [ln p_target(g) − ln p_raw(g)] with add-one-smoothed
    bigram models — the importance weight modern pretraining pipelines
    use to tilt a web crawl toward a quality domain. Here the target is
    the '{_DSIR_TARGET}' source slice standing in for the curated
    domain; output is the top-{_DSIR_TOP} selection.

    Exactness (by construction since round 9, the text_lm_perplexity
    recipe): every ln argument is an exact integer from a Zipf-collapsed
    distinct-count domain — ln(ct+1) and ln(cr+1) enter both engines as
    micro-nat literals (functions/exactlog.py), and the two corpus-total
    terms ln(nr+V) − ln(nt+V) fold into ONE integer constant — so no
    engine evaluates a transcendental and per-document scores are exact
    int64 sums, partition-invariant and engine-identical. This retired
    the query's raw-round lint exemption.

    Scale shape (also improved in round 9): ONE corpus pass builds the
    type-level model table carrying BOTH raw and target counts (the
    target count is a conditional agg in the same shuffle, not a second
    corpus aggregation — the previous version paid separate cr/ct/totals
    passes, 4 corpus scans total; now 2: model build + scoring). The
    scored model BROADCASTS into the instance join, so the corpus-sized
    bigram stream never shuffles for scoring — the only instance shuffle
    is the per-doc rollup; the cut is TakeOrderedAndProject. DSIR's
    hashed-feature variant (fixed 10k buckets) drops in by keying the
    model on hash(w1,w2) % B — same plan, bounded model size at any
    corpus scale.
    """
    from biglake_iceberg_python_spark.functions.exactlog import micro_nat

    d = load_table(spark, sf_dir, "documents")
    ws = words("text")
    bigs = d.select(
        "doc_id",
        "source",
        F.explode(
            adjacent_pairs(
                ws,
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "source", "bg.w1", "bg.w2")
    mb = (
        bigs.groupBy("w1", "w2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cr"),
            F.count(F.when(F.col("source") == _DSIR_TARGET, 1))
            .cast("long")
            .alias("ct"),
        )
        .localCheckpoint(eager=False)
    )
    head = mb.agg(
        F.collect_set("cr").alias("crs"),
        F.collect_set("ct").alias("cts"),
        F.sum("cr").alias("nr"),
        F.sum("ct").alias("nt"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    nr, nt, v = head["nr"] or 0, head["nt"] or 0, head["v"] or 0
    const = (
        micro_nat(nr + v) - micro_nat(nt + v)
        if nr + v >= 1 and nt + v >= 1
        else 0
    )

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_shift_pairs,
        with_micro_nat_shift,
    )

    pairs_ct = micro_nat_shift_pairs(head["cts"], 1)
    pairs_cr = micro_nat_shift_pairs(head["crs"], 1)
    # Zipf-collapsed count domains: literal map lookups inside the
    # projection at the expected sizes.
    model = with_micro_nat_shift(
        with_micro_nat_shift(mb, pairs_ct, "ct", "lct"), pairs_cr, "cr", "lcr"
    ).select(
        "w1",
        "w2",
        (F.col("lct") - F.col("lcr") + F.lit(const))
        .cast("long")
        .alias("lr_micro"),
    )
    scored = (
        bigs.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lr_micro").cast("long").alias("score_micro"),
        )
    )
    return scored.orderBy(F.col("score_micro").desc(), "doc_id").limit(
        _DSIR_TOP
    )


_APPORTION_BUDGET = 100_000  # sample slots to distribute across sources


@query(
    "curate_mix_apportionment",
    oracle=f"""
    WITH tok AS (
      SELECT
        source,
        len({oracle_words()}) AS n_tok,
        CASE WHEN source IN {_PREMIUM_SQL}
             THEN {_PREMIUM_WEIGHT} ELSE {_BASE_WEIGHT} END AS w
      FROM documents
    ), per_src AS (
      SELECT source, w, SUM(n_tok) AS src_tokens,
             w * SUM(n_tok) AS mass
      FROM tok GROUP BY source, w
    ), g AS (SELECT SUM(mass) AS total_mass FROM per_src),
    quota AS (
      SELECT p.source, p.src_tokens, p.mass,
             {_APPORTION_BUDGET} * p.mass // g.total_mass AS fl,
             {_APPORTION_BUDGET} * p.mass % g.total_mass AS rem
      FROM per_src p CROSS JOIN g
    ), leftover AS (
      SELECT {_APPORTION_BUDGET} - SUM(fl) AS l FROM quota
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM quota
    )
    SELECT
      r.source,
      CAST(r.src_tokens AS BIGINT) AS src_tokens,
      CAST(r.fl AS BIGINT) AS floor_slots,
      CAST(CASE WHEN r.rk <= (SELECT l FROM leftover) THEN 1 ELSE 0 END
           AS BIGINT) AS extra_slot,
      CAST(r.fl + CASE WHEN r.rk <= (SELECT l FROM leftover)
                       THEN 1 ELSE 0 END AS BIGINT) AS slots,
      CAST((r.fl + CASE WHEN r.rk <= (SELECT l FROM leftover)
                        THEN 1 ELSE 0 END) * 1000000
           // {_APPORTION_BUDGET} AS BIGINT) AS share_ppm
    FROM ranked r
    ORDER BY source
    """,
    tags=("llm", "curation", "mixing", "apportionment"),
)
def curate_mix_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a training-sample
    budget across sources — the step after `curate_domain_mix` decides
    proportions: converting fractional quotas into INTEGER per-source
    sample counts that sum EXACTLY to the budget. Naive rounding
    over/under-shoots by up to |sources|/2 slots; Hamilton floors every
    quota and hands the leftover slots to the largest remainders
    (deterministic source-name tiebreak), so Σslots ≡ budget — the
    invariant shard writers and epoch schedulers rely on.

    Exactness: quotas are exact integer div/mod of token-mass products
    (no doubles anywhere), the remainder ranking is a window over
    |sources| rows, and the guarantee Σslots = budget is asserted in
    tests. Scale shape: one per-source rollup of the corpus (map-side
    combined), then everything runs on the |sources|-row table — the
    apportionment itself is free at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.size(words()).alias("n_tok"),
        F.when(F.col("source").isin(*_PREMIUM_SOURCES), F.lit(_PREMIUM_WEIGHT))
        .otherwise(F.lit(_BASE_WEIGHT))
        .alias("w"),
    )
    per_src = tok.groupBy("source", "w").agg(
        F.sum("n_tok").cast("long").alias("src_tokens"),
    ).select(
        "source",
        "src_tokens",
        (F.col("w") * F.col("src_tokens")).alias("mass"),
    )
    g = per_src.agg(F.sum("mass").alias("total_mass"))
    quota = per_src.crossJoin(F.broadcast(g)).select(
        "source",
        "src_tokens",
        F.expr(f"{_APPORTION_BUDGET} * mass DIV total_mass").alias("fl"),
        F.expr(f"{_APPORTION_BUDGET} * mass % total_mass").alias("rem"),
    )
    leftover = quota.agg(
        (F.lit(_APPORTION_BUDGET) - F.sum("fl")).alias("l")
    )
    ranked = quota.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("source"))
        ),
    )
    out = ranked.crossJoin(F.broadcast(leftover)).select(
        "source",
        "src_tokens",
        F.col("fl").cast("long").alias("floor_slots"),
        F.when(F.col("rk") <= F.col("l"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("extra_slot"),
    )
    return out.select(
        "source",
        "src_tokens",
        "floor_slots",
        "extra_slot",
        (F.col("floor_slots") + F.col("extra_slot")).alias("slots"),
        F.expr(
            "CAST((floor_slots + extra_slot) * 1000000"
            f" DIV {_APPORTION_BUDGET} AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("source")
