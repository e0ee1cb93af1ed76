"""UDF tiers (SURVEY.md §2B): Arrow-batched pandas UDF, grouped-map
applyInPandas, and the row-at-a-time Python UDF (demonstrated, discouraged).

Scale doctrine (pyspark_guide): built-ins > pandas UDF > Python UDF. Every
UDF here computes something a built-in could also express — deliberately,
so the DuckDB oracle can verify the UDF machinery itself (serialization,
batching, grouping) rather than trusting it.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType

from biglake_iceberg_python_spark.functions.exprs import (
    dsum,
    oracle_cents,
    oracle_dsum,
    oracle_words,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

# Ship this module's UDF functions by value — the session owner may import
# this package from a path the Python workers can't (see multimodal.py).
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


@pandas_udf(DoubleType())
def _net_price_vec(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
    """Vectorized net price: elementwise IEEE double ops on Arrow batches —
    bit-identical to the SQL expression in any engine.

    NULL inputs arrive as NaN; returned through the NULLABLE Float64
    dtype so Arrow hands Spark a real NULL, matching the SQL
    expression's NULL (a float64 NaN would instead hit the downstream
    decimal cast, which raises under ANSI)."""
    return (price * (1.0 - discount) * (1.0 + tax)).astype("Float64")


@pandas_udf(LongType())
def _qty_band_vec(qty: pd.Series) -> pd.Series:
    # Nullable Int64: NULL qty -> NULL band (plain int64 astype raises
    # IntCastingNaNError on the NaN a NULL arrives as).
    return (qty // 10).astype("Int64")


@query(
    "udf_pandas_scalar",
    oracle=f"""
    SELECT
      CAST(floor(l_quantity / 10) AS BIGINT) AS qty_band,
      COUNT(*) AS n,
      {oracle_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_net
    FROM lineitem
    WHERE l_orderkey % 4 = 0
    GROUP BY 1
    """,
    tags=("udf", "pandas"),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas UDFs in the hot path: per-row math runs in
    numpy over Arrow batches (no per-row Python), aggregation stays JVM-side
    on the exact-decimal path. ~10-100× the row-at-a-time UDF throughput;
    still dominated by pure codegen — use only when the logic genuinely
    needs Python (model scoring, custom libs)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    with_udf = li.select(
        _qty_band_vec("l_quantity").alias("qty_band"),
        _net_price_vec("l_extendedprice", "l_discount", "l_tax").alias("net"),
    )
    return with_udf.groupBy("qty_band").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("net", "sum_net"),
    )


@pandas_udf(DoubleType())  # DataType object, not a DDL string — string
# return types parse lazily against an ACTIVE SparkContext, which would
# make this module unimportable before a session exists (and brick the
# whole registry import).
def _weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
    """GROUPED_AGG worker: quantity-weighted mean price, computed on
    integer cents so the reduction is order-independent (prices carry two
    decimals; cents×qty sums stay < 2^53, exact in float64 in any order —
    a raw float dot product would vary with Arrow batch order).

    NULL discipline mirrors the oracle's SQL sums exactly: the numerator
    SUM(cents*qty) skips rows where EITHER factor is NULL, the
    denominator SUM(qty) skips only NULL-qty rows (plain astype('int64')
    raises on the NaN a NULL arrives as)."""
    both = price.notna() & qty.notna()
    if not both.any():  # numerator SUM over empty set is SQL NULL (e.g.
        return None  # all-NULL prices with non-NULL qty)
    pq = (price[both] * 100).round().astype("int64") * qty[both].astype(
        "int64"
    )
    den = qty[qty.notna()].astype("int64").sum()
    if den == 0:  # all-NULL qty group: SQL SUM is NULL -> NULL mean
        return None
    return float(pq.sum()) / (100.0 * float(den))


@pandas_udf(LongType())
def _group_size(price: pd.Series) -> int:
    """GROUPED_AGG count twin — Spark disallows mixing GROUPED_AGG pandas
    UDFs with JVM aggregates in one agg(), so the row count is a second
    pandas aggregate over the same Arrow batch."""
    return len(price)


@query(
    "udf_pandas_grouped_agg",
    oracle=f"""
    SELECT
      l_returnflag, l_linestatus,
      CAST(CAST(SUM({oracle_cents('l_extendedprice')}
               * CAST(l_quantity AS BIGINT)) AS STRING) AS DOUBLE)
        / (100.0 * SUM(CAST(l_quantity AS BIGINT))) AS wavg_price,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("udf", "pandas", "grouped-agg", "udaf"),
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF (GROUPED_AGG pandas_udf): a custom aggregate — the
    quantity-weighted mean price — sitting directly inside groupBy().agg()
    next to built-ins, completing the UDF matrix (scalar / grouped-map /
    grouped-agg / UDTF / Arrow / mapInArrow).

    Unlike grouped-map, GROUPED_AGG returns one scalar per group, so only
    the group's columns stream through Arrow and the JVM keeps the
    surrounding aggregation plan. Caveat at 100 TB: GROUPED_AGG is not
    partial-aggregating — every group's values ship to one worker (fine
    for bounded groups like these 6; for unbounded groups prefer a
    built-in or re-express as map + two-phase agg). The oracle re-derives
    the same weighted mean declaratively, verifying the UDAF machinery.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _weighted_avg_price("l_extendedprice", "l_quantity").alias(
            "wavg_price"
        ),
        _group_size("l_extendedprice").alias("n"),
    )


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map worker: z-score l_quantity within the group.

    Bit-stable across engines: quantities are whole numbers, so the first
    and second power sums are computed as EXACT int64s, and mean/variance
    come from them through a fixed double-op sequence (the textbook
    ss = s2 - s1²/n) that the oracle mirrors operation-for-operation.
    The previous formulation summed (q - mean)² as floats, where pandas'
    pairwise summation and DuckDB's sequential window sum disagree in the
    last ulp (this query's repr-precision red). math.sqrt, not **0.5:
    pow(x, 0.5) is libm-dependent while sqrt is IEEE-correctly-rounded.
    """
    import math

    # NULL discipline mirrors the oracle exactly: COUNT(*) counts every row,
    # SUM(qi)/SUM(qi*qi) skip NULL quantities, and a NULL quantity z-scores to
    # NULL (the CASE's THEN branch on a NULL operand) — via the nullable
    # Float64 dtype so Arrow hands Spark a real NULL, not NaN.
    qv = pdf["l_quantity"]
    qi = qv[qv.notna()].round().astype("int64")
    n = len(pdf)
    s1 = int(qi.sum())
    s2 = int((qi * qi).sum())
    ss = float(s2) - float(s1) * float(s1) / float(n)
    if n > 1 and ss > 0:
        mean = s1 / n
        std = math.sqrt(ss / (n - 1.0))
        pdf["qty_z"] = ((pdf["l_quantity"] - mean) / std).astype("Float64")
    else:
        pdf["qty_z"] = 0.0
    return pdf[["l_returnflag", "l_orderkey", "l_linenumber", "l_quantity", "qty_z"]]


@query(
    "udf_grouped_map",
    oracle="""
    WITH g AS (
      SELECT
        l_returnflag, l_orderkey, l_linenumber, l_quantity,
        CAST(round(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS qi
      FROM lineitem
      WHERE l_orderkey % 25 = 0
    ), s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(qi) AS s1, SUM(qi * qi) AS s2
      FROM g GROUP BY l_returnflag
    ), f AS (
      SELECT l_returnflag, n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
               AS ss
      FROM s
    )
    SELECT
      g.l_returnflag, g.l_orderkey, g.l_linenumber, g.l_quantity,
      CASE WHEN f.n > 1 AND f.ss > 0
           THEN (g.l_quantity - f.mean)
                / sqrt(f.ss / (CAST(f.n AS DOUBLE) - 1.0))
           ELSE 0.0 END AS qty_z
    FROM g JOIN f USING (l_returnflag)
    """,
    tags=("udf", "applyInPandas", "grouped-map"),
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: per-group z-score normalization — the
    custom-stateful-per-group shape (each group lands in one Python worker
    as a pandas frame; shuffle on the group key is the only data movement).

    Oracle twin re-derives the same z-scores declaratively from the same
    exact integer power sums, proving the grouped-map path computes exactly
    what the declarative form would — bit-for-bit (see _zscore_group).
    Caveat at scale: a group must fit in one worker's memory — keys here are
    3 flags; for high-cardinality keys this is the right tool, for few fat
    keys use window functions instead.
    """
    # Flagless rows dropped symmetrically: the oracle's g JOIN f
    # USING (l_returnflag) can never match a NULL flag, while groupBy
    # would keep a NULL group — an unflagged
    # line is unattributable to a z-score population on either engine.
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") % 25 == 0) & F.col("l_returnflag").isNotNull()
    )
    out_schema = (
        "l_returnflag string, l_orderkey bigint, l_linenumber int, "
        "l_quantity double, qty_z double"
    )
    return (
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
        .groupBy("l_returnflag")
        .applyInPandas(_zscore_group, schema=out_schema)
    )


@query(
    "udf_python_scalar",
    oracle="""
    SELECT
      o_orderpriority,
      COUNT(*) AS n,
      CAST(SUM(CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
               THEN 2 ELSE 1 END) AS BIGINT) AS weight_sum
    FROM orders
    WHERE o_orderkey % 100 = 0
    GROUP BY o_orderpriority
    """,
    tags=("udf", "python-scalar"),
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — THE SLOW PATH, included for surface
    completeness on a deliberately pre-filtered 1% slice. Each row round-
    trips through pickle + the Python interpreter; at 100 TB this is never
    acceptable in a hot path — use the pandas UDF above or pure SQL."""
    weight = F.udf(
        lambda prio: 2 if prio and prio[0] in ("1", "2") else 1, "int"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return (
        o.withColumn("w", weight("o_orderpriority"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").cast("long").alias("weight_sum"),
        )
    )


@query(
    "udf_python_udtf",
    oracle=f"""
    WITH toks AS (
      SELECT
        d.source,
        t.word,
        t.pos
      FROM (
        SELECT source,
               {oracle_words()} AS ws
        FROM documents
      ) d, LATERAL (
        SELECT unnest(d.ws) AS word, generate_subscripts(d.ws, 1) - 1 AS pos
      ) t
    )
    SELECT
      source,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct_words,
      CAST(SUM(pos * length(word)) AS BIGINT) AS checksum
    FROM toks GROUP BY source
    """,
    tags=("udf", "udtf", "lateral"),
)
def udf_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 4 @udtf) applied via SQL
    LATERAL: each document row expands to one row per token with its
    position — the 1→N expansion shape (parsers, lexers, segmenters) that
    scalar UDFs can't express. The per-source rollup (counts + a
    position-weighted checksum) is pinned to a DuckDB LATERAL-unnest twin,
    so the UDTF machinery itself (row expansion, column binding, lateral
    correlation) is what the oracle verifies.

    Scale note: a UDTF runs row-at-a-time Python — fine for expansion
    logic that must be imperative; for a tokenizer this simple, the
    codegen path (explode(split())) used everywhere else in textstats is
    the production choice. The UDTF exists to prove the extension point.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, pos int")
    class _SplitWords:
        def eval(self, text):
            for i, w in enumerate(x for x in (text or "").split(" ") if x):
                yield (w, i)

    spark.udtf.register("split_words_udtf", _SplitWords)
    # The analyzed frame holds the UDTF itself, so its name is dropped once
    # spark.sql returns.
    try:
        return spark.sql(
            """
            SELECT
              d.source,
              COUNT(*) AS n_tokens,
              COUNT(DISTINCT s.word) AS n_distinct_words,
              CAST(SUM(s.pos * length(s.word)) AS BIGINT) AS checksum
            FROM {documents} d, LATERAL split_words_udtf(d.text) s
            GROUP BY d.source
            """,
            documents=load_table(spark, sf_dir, "documents"),
        )
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS split_words_udtf")


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(CAST(length(text) AS BIGINT) * n_chars) AS BIGINT)
        AS weighted_len
    FROM documents
    GROUP BY lang
    """,
    tags=("udf", "arrow"),
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (useArrow=True) — the third execution
    tier between pandas UDFs (declared vectorized) and pickled
    row-at-a-time Python UDFs: the function body is still scalar Python,
    but batches cross the JVM↔Python boundary as Arrow, cutting (de)ser
    cost ~an order of magnitude. Integer arithmetic makes the oracle
    exact.
    """
    f = F.udf(
        # BOTH args need the None guard (a NULL n_chars crashes the
        # worker) — the SQL twin
        # `length(text) * n_chars` is NULL when EITHER side is NULL.
        lambda t, n: len(t) * n if t is not None and n is not None else None,
        "long",
        useArrow=True,
    )
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", f("text", "n_chars").alias("wl"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("wl").cast("long").alias("weighted_len"),
        )
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM orders
    """,
    tags=("udf", "arrow", "mapInArrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the lowest-level Python extension tier: the function
    receives raw ``pyarrow.RecordBatch`` objects (no pandas conversion at
    all) and emits RecordBatches back. This is the zero-copy path for
    libraries that already speak Arrow (polars, duckdb, vector codecs):
    per-batch work here computes partial aggregates with pyarrow.compute,
    and a tiny Spark-side rollup merges them — the tree-aggregation shape
    that keeps Python work embarrassingly parallel.

    Exact integer arithmetic end-to-end, so the merged result
    hash-matches the plain SQL oracle.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def batch_stats(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "n": pa.array([b.num_rows], pa.int64()),
                    "s": pa.array(
                        [pc.sum(b.column("o_orderkey")).as_py() or 0],
                        pa.int64(),
                    ),
                    # drop_null first: COUNT(DISTINCT) skips NULL, while
                    # pc.unique would count it as a value.
                    "prios": pa.array(
                        [
                            pc.unique(
                                pc.drop_null(b.column("o_orderpriority"))
                            ).to_pylist()
                        ],
                        pa.list_(pa.string()),
                    ),
                }
            )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    partials = o.mapInArrow(
        batch_stats, "n bigint, s bigint, prios array<string>"
    )
    # coalesce: zero Arrow batches (empty table) must still report
    # n_rows = 0, the oracle's COUNT(*).
    return partials.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows"),
        F.sum("s").cast("long").alias("sum_key"),
        F.size(F.array_distinct(F.flatten(F.collect_list("prios"))))
        .cast("long")
        .alias("n_priorities"),
    )


def _asof_cogroup(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Per-customer as-of match: for each open-order day, the latest
    fulfilled-order day that is <= it (numpy searchsorted — O(n log n)
    per group, no pandas merge_asof global-sort requirements)."""
    import numpy as np

    cols = ["o_custkey", "o_orderkey", "open_day", "last_f_day", "gap_days"]
    if left.empty:
        return pd.DataFrame({c: pd.array([], dtype="Int64") for c in cols})
    days = left["day"].to_numpy()
    rd = np.sort(right["day"].to_numpy()) if len(right) else np.array([], dtype="int64")
    idx = np.searchsorted(rd, days, side="right") - 1
    last = pd.array(
        [int(rd[i]) if i >= 0 else None for i in idx], dtype="Int64"
    )
    out = pd.DataFrame(
        {
            "o_custkey": pd.array(left["o_custkey"], dtype="Int64"),
            "o_orderkey": pd.array(left["o_orderkey"], dtype="Int64"),
            "open_day": pd.array(days, dtype="Int64"),
            "last_f_day": last,
            "gap_days": pd.array(days, dtype="Int64") - last,
        }
    )
    return out


@query(
    "udf_cogrouped_map",
    oracle="""
    SELECT
      o.o_custkey,
      o.o_orderkey,
      CAST(date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
           AS BIGINT) AS open_day,
      CAST((SELECT MAX(date_diff('day', DATE '1970-01-01',
                                 CAST(f.o_orderdate AS DATE)))
            FROM orders f
            WHERE f.o_custkey = o.o_custkey AND f.o_orderstatus = 'F'
              AND f.o_orderdate <= o.o_orderdate) AS BIGINT) AS last_f_day,
      CAST(date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
           - (SELECT MAX(date_diff('day', DATE '1970-01-01',
                                   CAST(f.o_orderdate AS DATE)))
              FROM orders f
              WHERE f.o_custkey = o.o_custkey AND f.o_orderstatus = 'F'
                AND f.o_orderdate <= o.o_orderdate) AS BIGINT) AS gap_days
    FROM orders o
    -- key+time dead-letter: an as-of match
    -- needs both; NULL keys also diverge structurally (the correlated
    -- equi-predicate never matches NULL while cogroup pairs NULL groups)
    WHERE o.o_orderstatus = 'O'
      AND o.o_custkey IS NOT NULL AND o.o_orderdate IS NOT NULL
    """,
    tags=("udf", "cogroup", "applyInPandas", "asof"),
)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map pandas UDF (``groupBy().cogroup().applyInPandas``) —
    the LAST tier of the pandas API matrix: TWO tables shuffle on the
    same key and each key's pair of pandas frames lands in one Python
    worker. The demo is the canonical cogroup workload: a per-key as-of
    match (each customer's open orders against their own fulfilled-order
    timeline) — per-group ordered logic that SQL needs a correlated
    subquery for, and that pandas expresses as one searchsorted.

    Dates cross the Arrow boundary as epoch-DAY integers (derived
    JVM-side via ``datediff``) so the Python worker never touches
    timestamp semantics — the NTZ/timezone minefield stays in Spark. The
    oracle's correlated MAX proves the cogroup machinery (dual shuffle,
    per-key frame pairing, nullable Int64 output) reproduces the exact
    declarative result, including NULL rows for customers with no prior
    fulfilled order. At scale both sides shuffle ONCE on the key, groups
    stream pair-wise through workers bounded by per-customer history —
    the two-table analog of grouped-map, and the only API tier that can
    run custom two-sided per-key logic without first materializing a
    join.
    """
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    # key+time dead-letter on BOTH inputs: the
    # oracle's correlated equi-predicate never matches a NULL custkey,
    # while cogroup would pair the two NULL groups; a dateless fulfilled
    # order can never be "latest <= t" (NULL comparison) on either side.
    keyed = F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    opens = o.filter((F.col("o_orderstatus") == "O") & keyed).select(
        "o_custkey", "o_orderkey", day.alias("day")
    )
    fulfilled = o.filter((F.col("o_orderstatus") == "F") & keyed).select(
        "o_custkey", day.alias("day")
    )
    out_schema = (
        "o_custkey bigint, o_orderkey bigint, open_day bigint, "
        "last_f_day bigint, gap_days bigint"
    )
    return (
        opens.groupBy("o_custkey")
        .cogroup(fulfilled.groupBy("o_custkey"))
        .applyInPandas(_asof_cogroup, schema=out_schema)
    )


@query(
    "udf_pandas_scalar_iter",
    oracle=f"""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_scored,
      -- floor-mod, not SQL's dividend-sign %: the pandas worker's % IS
      -- floor-mod, and the two disagree on negative cents (credit
      -- orders)
      CAST(SUM((({oracle_cents('o_totalprice')} % 97) + 97) % 97) AS BIGINT)
        AS score_sum
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("udf", "pandas", "scalar-iter"),
)
def udf_pandas_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-series pandas UDF (SCALAR_ITER) — the variant built for
    EXPENSIVE ONE-TIME INIT: the function body runs once per Python
    worker, loads its "model" before the loop, then scores every Arrow
    batch with it. This is the shape LLM-pipeline scoring uses at 100 TB
    (load a tokenizer/classifier once per executor, not once per batch —
    with plain SCALAR UDFs the init would re-run per batch).

    The "model" here is a deterministic mod-97 scorer so the result is
    exact integers and the whole pipeline hash-matches the oracle; the
    per-batch work is vectorized numpy over Arrow.
    """
    @pandas_udf("long")
    def score_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one-time init per worker (imagine: load model weights)
        model_modulus = 97
        for s in batches:
            # Nullable Int64: NULL price -> NULL score (SQL's % on NULL),
            # not an IntCastingNaNError.
            cents = (s.astype("float64") * 100).round().astype("Int64")
            yield (cents % model_modulus).astype("Int64")

    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        "o_orderstatus",
        score_iter(F.col("o_totalprice").cast("double")).alias("score"),
    )
    return scored.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum("score").cast("long").alias("score_sum"),
    )


@query(
    "udf_pandas_window_agg",
    oracle=f"""
    SELECT
      o_custkey,
      o_orderkey,
      CAST(SUM({oracle_cents('o_totalprice')})
           OVER (PARTITION BY o_custkey) AS BIGINT) AS cust_total_cents,
      CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS cust_orders
    FROM orders
    WHERE o_custkey % 10 = 0
    """,
    tags=("udf", "pandas", "window", "udaf"),
)
def udf_pandas_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF applied OVER A WINDOW — the UDF × window
    integration point the groupBy variant (`udf_pandas_grouped_agg`)
    doesn't touch: the same custom aggregate attaches its result to EVERY
    row of the partition instead of collapsing it, the way a Python
    sketch or model statistic joins back to row grain without a self-join.

    The UDAF sums exact integer cents (order-independent), so the
    windowed totals hash-match plain SUM() OVER in the oracle. Spark
    executes unbounded-window pandas UDAFs once per partition and fans
    the scalar out — same single exchange as a JVM window aggregate, plus
    Arrow transfer of the partition's column.
    """
    import numpy as np

    @pandas_udf("long")
    def cents_sum(price: pd.Series) -> int:
        # SQL SUM skips NULLs and is NULL over an all-NULL partition
        # (np.rint(NaN).astype(int64) wraps).
        v = price.to_numpy(dtype="float64")
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return None
        return int(np.rint(v * 100).astype("int64").sum())

    @pandas_udf("long")
    def row_count(price: pd.Series) -> int:
        return len(price)

    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w = W.partitionBy("o_custkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        cents_sum(F.col("o_totalprice")).over(w).alias("cust_total_cents"),
        row_count(F.col("o_totalprice")).over(w).alias("cust_orders"),
    )


@query(
    "udf_udtf_polymorphic_analyze",
    oracle="""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END) AS BIGINT)
        AS bucket_hi,
      CAST(SUM(CASE WHEN o_totalprice >= 50000 AND o_totalprice < 100000
               THEN 1 ELSE 0 END) AS BIGINT) AS bucket_mid,
      CAST(SUM(CASE WHEN o_totalprice < 50000 THEN 1 ELSE 0 END) AS BIGINT)
        AS bucket_lo
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("udf", "udtf", "polymorphic", "analyze"),
)
def udf_udtf_polymorphic_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze()``): the table
    function's OUTPUT SCHEMA is computed at plan time from its literal
    arguments — here bucket boundaries passed as an argument decide how
    many ``bucket_*`` columns exist. This is the dynamic-schema tier
    above the fixed-schema UDTF (`udf_python_udtf`): one implementation
    serves any bucketing without code changes, the way generic
    "explode-this-config" table functions ship in SQL platforms.

    The bucketed counts are plain integers, so the result hash-matches a
    static CASE oracle for the same boundaries.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class Bucketize:
        @staticmethod
        def analyze(price: AnalyzeArgument, bounds: AnalyzeArgument):
            n = len(bounds.value.split(","))
            schema = StructType()
            for name in ["hi", "mid", "lo"][: n + 1]:
                schema = schema.add(f"bucket_{name}", IntegerType())
            return AnalyzeResult(schema=schema)

        def eval(self, price, bounds):
            # NULL price: every CASE WHEN NULL >= bound is not-TRUE ->
            # ELSE 0 in the oracle; Python None >= float would raise.
            # Row still counts toward n.
            if price is None:
                yield 0, 0, 0
                return
            bs = [float(b) for b in bounds.split(",")]
            hi = 1 if price >= bs[0] else 0
            mid = 1 if (bs[1] <= price < bs[0]) else 0
            lo = 1 if price < bs[1] else 0
            yield hi, mid, lo

    spark.udtf.register("bucketize_poly", Bucketize)
    # Dropped once spark.sql returns, as in udf_python_udtf.
    try:
        return spark.sql(
            """
            SELECT
              o.o_orderstatus,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(b.bucket_hi) AS BIGINT) AS bucket_hi,
              CAST(SUM(b.bucket_mid) AS BIGINT) AS bucket_mid,
              CAST(SUM(b.bucket_lo) AS BIGINT) AS bucket_lo
            FROM {orders} o,
                 LATERAL bucketize_poly(o.o_totalprice, '100000,50000') b
            GROUP BY o.o_orderstatus
            """,
            orders=load_table(spark, sf_dir, "orders"),
        )
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS bucketize_poly")
