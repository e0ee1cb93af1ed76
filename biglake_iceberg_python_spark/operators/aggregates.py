"""Aggregation family: hash agg, distinct, approx, rollup/cube/grouping sets.

Reference parity: none (the reference has zero aggregations — SURVEY.md §2
Part A); this is contract-mandated surface (§2 Part B).

Scale notes: every groupBy here is a partial (map-side) aggregation first —
the shuffle carries one row per (partition × group), not per input row.
count_distinct over a high-cardinality key rewrites to a two-phase expand +
agg; approx_count_distinct (HLL) is the 100 TB answer when exactness is not
required (fixed-size sketch per group, mergeable, no second shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    EVENT_VALUE_CAP,
    cents,
    davg,
    dec,
    dsum,
    oracle_cents,
    oracle_davg,
    oracle_dsum,
    oracle_epoch_s,
    oracle_events,
    spark_epoch_s,
)
from biglake_iceberg_python_spark.functions.twophase import two_phase_rank
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table


@query(
    "agg_stats",
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      COUNT(*) AS n_orders,
      {oracle_dsum('o_totalprice')} AS sum_price,
      {oracle_davg('o_totalprice')} AS avg_price,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price,
      CAST(MIN(o_custkey) AS BIGINT) AS min_custkey
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    tags=("agg",),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure hash aggregation over a composite key (15 groups).
    MIN/MAX are order-independent so they stay plain doubles; SUM/AVG go
    through the exact decimal path."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "sum_price"),
        davg("o_totalprice", "avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_custkey").cast("long").alias("min_custkey"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT
      l_returnflag,
      COUNT(DISTINCT l_suppkey) AS n_suppliers,
      COUNT(DISTINCT l_partkey) AS n_parts,
      COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct"),
    bench=True,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregation — Catalyst plans this as
    an Expand (one replica per distinct column) + two-phase agg; at 100 TB
    prefer one distinct column per query or the HLL variant below.

    No widen: the Expand and partial distinct run map-side on the scan
    splits and the distinct agg's OWN exchange spreads the heavy phase, so
    an upfront full-row repartition only adds a raw-row shuffle (measured
    2.5x slower with it at sf0.1: 1.45s vs 0.57s)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "agg_dropduplicates",
    oracle="""
    SELECT COUNT(*) AS n_unique_pairs
    FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
    """,
    tags=("agg", "distinct"),
)
def agg_dropduplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level dedup via dropDuplicates (DISTINCT) — one shuffle on the
    pair key with map-side partial dedup."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_suppkey", "l_partkey")
        .dropDuplicates()
        .agg(F.count(F.lit(1)).alias("n_unique_pairs"))
    )


@query(
    "agg_approx",
    oracle=None,  # sketch families differ across engines → rows-only check;
    # the exactness bound is asserted in tests/test_operators.py against the
    # exact distinct counts.
    tags=("agg", "approx"),
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates: HLL count-distinct + quantile sketch.

    THE scale-out answer for distincts/percentiles at 100 TB: fixed-memory
    mergeable sketches, single shuffle, no expand. Not oracle-checkable
    (Spark HLL++ vs DuckDB approx_count_distinct produce different
    estimates); tests assert relative error < 5% vs exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Scalar percentile columns (not one ARRAY column): the driver's pandas
    # canonicalizer sorts rows and cannot hash list cells.
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("price_p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("price_p95"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "agg_percentile_exact",
    oracle="""
    SELECT
      l_returnflag,
      quantile_cont(l_extendedprice, 0.5) AS median_price,
      quantile_cont(l_extendedprice, 0.95) AS p95_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``: linear interpolation on the sorted set — deterministic,
    so hash-comparable). Exact percentiles need the full value set per group;
    at 100 TB use agg_approx instead."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95_price"),
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      COUNT(*) AS n_lines,
      {oracle_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotal lattice: (flag,status), (flag), () — Expand operator
    replicates each input row once per grouping set before one shuffle.

    Empty-input policy: Spark emits 0
    rows for ROLLUP over empty input while DuckDB keeps the SQL-standard
    grand-total row at count 0 — both engines filter it (`HAVING
    COUNT(*) > 0`, a no-op on non-empty input where every materialized
    grouping set has >= 1 row), so an empty table reports no strata.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity", "sum_qty"),
        )
        .where(F.col("n_lines") > 0)
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      COUNT(*) AS n_orders,
      {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations of (status, priority).

    Empty input reports no strata on both engines (`agg_rollup` policy).
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
        .where(F.col("n_orders") > 0)
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      GROUPING(l_returnflag) AS g_flag,
      GROUPING(l_linestatus) AS g_status,
      {oracle_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    HAVING COUNT(*) > 0
    """,
    tags=("agg", "grouping-sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() markers disambiguating
    "NULL because subtotal" from "NULL in data".

    Empty input reports no strata on both engines (`agg_rollup` policy).
    """
    return spark.sql(
        f"""
        SELECT
          l_returnflag,
          l_linestatus,
          GROUPING(l_returnflag) AS g_flag,
          GROUPING(l_linestatus) AS g_status,
          {oracle_dsum('l_extendedprice')} AS sum_price
        FROM {{lineitem}}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        HAVING COUNT(*) > 0
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "agg_variance",
    oracle=f"""
    SELECT
      l_returnflag,
      ({oracle_dsum('l_quantity * l_quantity')}
       - {oracle_dsum('l_quantity')}
         * {oracle_dsum('l_quantity')} / COUNT(*))
      / (COUNT(*) - 1) AS var_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance via exact decimal moments (sum, sum-of-squares) —
    order-independent, unlike the builtin Welford-style var_samp whose
    result depends on partial-merge order. One shuffle, two extra decimal
    sums; same shape scales to any node count with reproducible output."""
    li = load_table(spark, sf_dir, "lineitem")
    # Exact decimal sums → cast to double → IEEE arithmetic, so both engines
    # perform the identical final operations on identical operands.
    sq = dsum(F.col("l_quantity") * F.col("l_quantity"))
    s = dsum("l_quantity")
    n = F.count(F.lit(1))
    var = (sq - s * s / n) / (n - 1)
    return li.groupBy("l_returnflag").agg(var.alias("var_qty"))


@query(
    "agg_pivot",
    oracle=f"""
    SELECT
      l_returnflag,
      {oracle_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F,
      {oracle_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
      CAST(COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS n_F,
      CAST(COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS n_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: rows→columns over an explicit value list.

    Always pass the pivot values explicitly — without them Spark runs an
    extra distinct scan to discover them, and unbounded pivot width is a
    driver OOM at scale. Pivot compiles to conditional aggregates (the same
    CASE WHEN form as the oracle), so it shuffles once like any agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            dsum("l_quantity", "qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return pivoted.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_F"),
        F.col("O_qty").alias("qty_O"),
        F.coalesce("F_n", F.lit(0)).alias("n_F"),
        F.coalesce("O_n", F.lit(0)).alias("n_O"),
    )


_SUBQ_SCALAR_SQL = f"""
    SELECT o_orderkey, o_totalprice
    FROM {{orders}}
    WHERE {oracle_cents('o_totalprice')}
            * (SELECT COUNT(*) FROM {{orders}}) * 10
          > 18 * (SELECT SUM({oracle_cents('o_totalprice')}) FROM {{orders}})
"""


@query(
    "subquery_scalar",
    oracle=_SUBQ_SCALAR_SQL.format(orders="orders"),
    tags=("subquery",),
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subqueries in a predicate: orders above 1.8× the global
    average price. Catalyst evaluates each subquery once as a broadcast
    scalar — no correlation re-execution.

    The threshold comparison is integer cross-multiplied (price_cents ·
    n_orders · 10 > 18 · sum_cents) so it is bit-exact in both engines: a
    float AVG threshold could flip rows sitting within an ulp of it, and
    the engines' summation orders differ. 1.8× (not 2×) keeps the result
    non-empty at every test scale factor — a 0-row result would make the
    hash check vacuous.
    """
    return spark.sql(_SUBQ_SCALAR_SQL, orders=load_table(spark, sf_dir, "orders"))


@query(
    "subquery_correlated",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT COALESCE(AVG(c2.c_acctbal), 0)
      FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey AND c2.c_custkey <> c.c_custkey
    )
    """,
    tags=("subquery", "correlated"),
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: customers above their nation's leave-one-
    out average balance. Catalyst decorrelates this into an aggregate +
    join — it never re-executes the inner query per row (the naive O(n²)
    a row-at-a-time engine would do).
    """
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM {customer} c
        WHERE c_acctbal > (
          SELECT COALESCE(AVG(c2.c_acctbal), 0)
          FROM {customer} c2
          WHERE c2.c_nationkey = c.c_nationkey AND c2.c_custkey <> c.c_custkey
        )
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


_NOT_IN_NULL_SQL = """
    WITH r1_nations AS (
      SELECT n_nationkey FROM {nation} WHERE n_regionkey = 1
    ),
    poisoned AS (
      SELECT CASE WHEN n_regionkey = 2 THEN NULL ELSE n_nationkey END
               AS n_nationkey
      FROM {nation} WHERE n_regionkey IN (1, 2)
    )
    SELECT 'clean_set' AS variant,
           COUNT(*) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey
    FROM {customer}
    WHERE c_nationkey NOT IN (SELECT n_nationkey FROM r1_nations)
    UNION ALL
    SELECT 'null_in_set' AS variant,
           COUNT(*) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey
    FROM {customer}
    WHERE c_nationkey NOT IN (SELECT n_nationkey FROM poisoned)
    UNION ALL
    SELECT 'null_outer' AS variant,
           COUNT(*) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey
    FROM (
      SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_nationkey END
               AS c_nationkey,
             c_custkey
      FROM {customer}
    ) c
    WHERE c_nationkey NOT IN (SELECT n_nationkey FROM r1_nations)
"""


@query(
    "subquery_not_in_null",
    oracle=_NOT_IN_NULL_SQL.format(nation="nation", customer="customer"),
    tags=("subquery", "null_semantics"),
)
def subquery_not_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN three-valued-logic battery: the classic SQL trap, pinned
    across engines with the IDENTICAL statement text.

    Three branches in one UNION ALL:
    - clean_set: plain NOT IN over a NULL-free subquery — rewrites to a
      null-aware anti join that behaves exactly like LEFT ANTI.
    - null_in_set: one NULL injected into the subquery set — `x NOT IN
      (..., NULL)` is never TRUE (x <> NULL is UNKNOWN), so the branch
      returns COUNT(*) = 0 and a NULL sum. Engines that "optimize" this to
      a plain anti join get it wrong; Spark plans a null-aware anti join
      (the build side is scanned for NULLs before the probe).
    - null_outer: NULLs injected into the OUTER column — a NULL probe value
      can never satisfy NOT IN, so every 10th customer drops out.

    100 TB note: Spark's null-aware anti join requires the build side to be
    broadcastable (it degenerates to BroadcastNestedLoopJoin otherwise) —
    fine here because NOT IN sets are dimension-sized by construction; for
    fact-sized exclusion sets, pre-filter NULLs explicitly and use a plain
    LEFT ANTI join, which shuffles both sides on the key.
    """
    return spark.sql(
        _NOT_IN_NULL_SQL,
        nation=load_table(spark, sf_dir, "nation"),
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "agg_time_rollup_hypertable",
    oracle=f"""
    WITH e AS (
      SELECT
        date_trunc('day', ts) AS b_day,
        date_trunc('hour', ts) AS b_hour,
        time_bucket(INTERVAL '10 minutes', ts) AS b_10m,
        value
      FROM (SELECT * REPLACE (CASE WHEN isfinite(value) AND abs(value) < 1.0e4 THEN value END AS value) FROM events) events WHERE event_type = 'purchase'
    )
    SELECT
      COALESCE(strftime(b_day, '%Y-%m-%d %H:%M:%S'), 'ALL') AS bucket_day,
      COALESCE(strftime(b_hour, '%Y-%m-%d %H:%M:%S'), 'ALL') AS bucket_hour,
      COALESCE(strftime(b_10m, '%Y-%m-%d %H:%M:%S'), 'ALL') AS bucket_10m,
      CAST(GROUPING(b_day, b_hour, b_10m) AS INTEGER) AS grain,
      COUNT(*) AS n_events,
      {oracle_dsum('value')} AS sum_value
    FROM e
    GROUP BY ROLLUP (b_day, b_hour, b_10m)
    HAVING COUNT(*) > 0
    """,
    tags=("agg", "rollup", "timeseries"),
)
def agg_time_rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution time rollup: one pass over events
    produces day, hour, and 10-minute continuous-aggregate grains plus the
    grand total, distinguished by the grouping bitmask.

    ROLLUP over the hierarchical (day ⊃ hour ⊃ 10-min) bucket columns plans
    as a single Expand + two-phase agg — one shuffle for all four grains,
    which is exactly how a continuous-aggregate refresh should run at 100 TB
    (never one query per grain). The 10-min bucket is minute arithmetic on
    the NTZ timestamp (timezone-proof, equals DuckDB's epoch-aligned
    time_bucket for divisors of 60).
    """
    # Non-finite measures reduce to NULL on both engines: under ANSI the
    # decimal sum would otherwise abort on the first NaN, and DuckDB's DECIMAL
    # cast raises unconditionally.
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "value",
            F.when(
                ~F.isnan("value")
                & (F.abs("value") != F.lit(float("inf")))
                & (F.abs("value") < F.lit(EVENT_VALUE_CAP)),
                F.col("value"),
            ),
        )
    )
    b = e.select(
        F.date_trunc("day", "ts").alias("b_day"),
        F.date_trunc("hour", "ts").alias("b_hour"),
        F.expr(
            "timestampadd(MINUTE, -(minute(ts) % 10), date_trunc('minute', ts))"
        ).alias("b_10m"),
        "value",
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        b.rollup("b_day", "b_hour", "b_10m")
        .agg(
            F.grouping_id().cast("int").alias("grain"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .where(F.col("n_events") > 0)
        .select(
            F.coalesce(F.date_format("b_day", fmt), F.lit("ALL")).alias(
                "bucket_day"
            ),
            F.coalesce(F.date_format("b_hour", fmt), F.lit("ALL")).alias(
                "bucket_hour"
            ),
            F.coalesce(F.date_format("b_10m", fmt), F.lit("ALL")).alias(
                "bucket_10m"
            ),
            "grain",
            "n_events",
            "sum_value",
        )
    )


@query(
    "agg_unpivot",
    oracle=f"""
    WITH a AS (
      SELECT l_returnflag,
             {oracle_dsum('l_quantity')} AS sum_qty,
             {oracle_dsum('l_extendedprice')} AS sum_price,
             {oracle_dsum('l_discount')} AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS amount FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM a
    """,
    tags=("agg", "unpivot", "reshape"),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT): per-returnflag measure columns
    melted into (measure, amount) rows — the inverse of ``agg_pivot``.

    ``DataFrame.unpivot`` is a zero-shuffle Expand over the already
    aggregated 3-row table: the narrow→long explosion happens AFTER the
    rollup, so at 100 TB the expansion multiplies group rows, never input
    rows. Measures are exact decimal sums cast to double (functions/
    exprs.py), so the melted values hash-match the UNION ALL oracle.
    """
    base = (
        load_table(
            spark,
            sf_dir,
            "lineitem",
            widen=True,
            columns=(
                "l_returnflag",
                "l_quantity",
                "l_extendedprice",
                "l_discount",
            ),
        )
        .groupBy("l_returnflag")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_price"),
            dsum("l_discount", "sum_disc"),
        )
    )
    return base.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "measure",
        "amount",
    )


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
    ), s AS (
      SELECT SUM(cnt) AS total, COUNT(*) AS nkeys FROM c
    )
    SELECT
      l_partkey,
      CAST(cnt AS BIGINT) AS cnt,
      CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS support
    FROM c, s
    WHERE 10 * cnt * nkeys > 13 * total
    """,
    tags=("agg", "frequent-items"),
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-items: keys whose observed frequency exceeds 1.3× the
    mean key frequency, with their support ratio.

    One shuffle (the per-key count, map-side combined); the corpus total and
    key count derive from the tiny counts table and come back as a 1-row
    broadcast, so the threshold filter is map-side — no driver collect, no
    second scan of the fact table. The 1.3× cutoff is compared in exact
    integer cross-multiplication (10·cnt·nkeys > 13·total), never floats,
    so both engines keep/drop identical keys; support divides two exact
    integers once, as double.

    No widen: the per-key count's own exchange parallelizes the heavy
    phase; an upfront full-row repartition was measured 3x slower at sf0.1
    (1.29s vs 0.43s).
    """
    counts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("nkeys")
    )
    return (
        counts.join(F.broadcast(stats))
        .filter(
            F.lit(10) * F.col("cnt") * F.col("nkeys")
            > F.lit(13) * F.col("total")
        )
        .select(
            "l_partkey",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total").cast("double")).alias(
                "support"
            ),
        )
    )


@query(
    "agg_sessionize_events",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id,
             {oracle_epoch_s()} AS es
      FROM events WHERE ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, event_id, es,
             CASE WHEN LAG(es) OVER w IS NULL
                    OR es - LAG(es) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ), numbered AS (
      SELECT user_id, es,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), sessions AS (
      SELECT user_id, sid, COUNT(*) AS n_ev, MAX(es) - MIN(es) AS span_s
      FROM numbered GROUP BY user_id, sid
    )
    SELECT
      user_id,
      CAST(COUNT(*) AS BIGINT) AS n_sessions,
      CAST(SUM(n_ev) AS BIGINT) AS n_events,
      CAST(MAX(n_ev) AS BIGINT) AS max_session_events,
      CAST(MAX(span_s) AS BIGINT) AS max_session_span_s
    FROM sessions GROUP BY user_id
    """,
    tags=("agg", "window", "timeseries", "sessionization"),
)
def agg_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into sessions at
    >30-minute inactivity gaps (lag + running flag-sum), then roll up
    per-user session stats. Batch twin of the streaming ``session_window``
    operator (streaming/queries.py), and the standard warehouse shape for
    gap-based sessions.

    One shuffle on user_id serves both windows (lag and the running sum
    share partitioning and sort order — Spark plans a single sort); the
    session- and user-level aggregations re-use the same key prefix. Gap
    arithmetic is integer epoch-seconds on second-truncated NTZ timestamps,
    so both engines count the same boundaries regardless of session TZ or
    sub-second precision (SURVEY.md §1.3; cross-engine cookbook).
    """
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    # Dead-letter NULL event-times: a NULL
    # es is unordered — Spark sorts NULLS FIRST, DuckDB NULLS LAST, so
    # session boundaries diverge; both engines drop timestamp-less rows.
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(
        "user_id",
        "event_id",
        F.expr(spark_epoch_s()).cast("long").alias("es"),
    )
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.lag("es").over(w).isNull()
            | ((F.col("es") - F.lag("es").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.max("es") - F.min("es")).alias("span_s"),
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_ev").cast("long").alias("n_events"),
        F.max("n_ev").cast("long").alias("max_session_events"),
        F.max("span_s").cast("long").alias("max_session_span_s"),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ), ranked AS (
      SELECT c_mktsegment, c_nationkey, cnt,
             -- NULLS LAST: a known nation must win the tie over the
             -- NULL "unknown" group (Spark asc defaults NULLS FIRST,
             -- DuckDB NULLS LAST)
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY cnt DESC, c_nationkey NULLS LAST)
               AS rk
      FROM c
    )
    SELECT c_mktsegment,
           c_nationkey AS modal_nation,
           CAST(cnt AS BIGINT) AS n_customers
    FROM ranked WHERE rk = 1
    """,
    tags=("agg", "mode", "window"),
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with a deterministic tie-break: the most common
    customer nation per market segment, smallest key winning ties.

    Built-in ``mode()`` leaves ties engine-defined (Spark and DuckDB may
    disagree), so the portable shape is count-then-argmax: one shuffle for
    the (group, value) count, then a window over the counts — which are
    |groups|·|values| rows, not input rows, so the rank is nearly free and
    the result is reproducible everywhere.
    """
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cnt").desc(), F.col("c_nationkey").asc_nulls_last()
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").alias("modal_nation"),
            F.col("cnt").alias("n_customers"),
        )
    )


@query(
    "agg_histogram",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
             o_totalprice
      FROM orders
    )
    SELECT
      bucket,
      CAST(bucket * 25000 AS DOUBLE) AS bucket_low,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price
    FROM b GROUP BY bucket
    """,
    tags=("agg", "histogram"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order value: one map-side bucket expression
    + one groupBy — the distributed histogram shape (never a sort, never a
    driver-side binning pass). Bucket boundaries are exact-integer
    multiples of the width, the only values a 2-decimal money double can
    land on exactly, so both engines bin identically; MIN/MAX per bucket
    are order-independent doubles.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.floor(F.col("o_totalprice") / 25000).alias("bucket"),
    )
    return o.groupBy("bucket").agg(
        (F.col("bucket") * 25000).cast("double").alias("bucket_low"),
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "agg_session_window_batch",
    oracle=f"""
    WITH ordered AS (
      SELECT
        user_id, ts, value,
        -- >= (not >): Spark session windows are half-open
        -- [start, start+gap), so an event exactly gap after its
        -- predecessor starts a NEW session.
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  >= INTERVAL '30 minutes'
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM {oracle_events()} events
    ), sessions AS (
      SELECT
        user_id, ts, value,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    )
    SELECT
      user_id,
      strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      COUNT(*) AS n_events,
      {oracle_dsum('value')} AS sum_value
    FROM sessions
    GROUP BY user_id, session_no
    """,
    tags=("agg", "session", "session_window"),
)
def agg_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window in a BATCH aggregation — the same gap-merging
    operator the streaming query uses (stream_session_window), applied to
    data at rest: one groupBy(session_window(ts, gap), user) call replaces
    the classic three-stage gaps-and-islands SQL (lag → flag → running
    sum → group), which is exactly what the DuckDB oracle still runs.
    Spark merges overlapping per-row gap intervals inside the aggregation.

    Scale shape: one exchange on the session keys with partial merging
    map-side — same budget as any hash aggregation; no window-function
    sort pass over the raw events is needed, which is the win over the
    gaps-and-islands formulation at 100 TB (it needs a full per-user
    ordered window before it can even flag session starts).

    NULL event-times are dead-lettered on both engines: Spark's session_window
    silently drops them while the oracle's gaps-and-islands window sorted them
    into a phantom session.
    """
    # Imported here: a module-level import would register eventflow's
    # queries ahead of this module's and reorder the registry.
    from biglake_iceberg_python_spark.operators.eventflow import _timed_events

    return (
        _timed_events(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("sum_dec"),
        )
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            "n_events",
            F.col("sum_dec").cast("double").alias("sum_value"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT
        l_returnflag,
        l_extendedprice AS price,
        CAST(l_quantity AS BIGINT) AS wt,
        SUM(CAST(l_quantity AS BIGINT))
          OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey,
                l_linenumber ROWS UNBOUNDED PRECEDING) AS cum_wt,
        SUM(CAST(l_quantity AS BIGINT))
          OVER (PARTITION BY l_returnflag) AS tot_wt
      FROM lineitem
      -- a row with no price cannot be ordered and a row with no weight
      -- cannot count; NULL keys would also trip two_phase_rank's loud
      -- NULL-ordering-key guard
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
    )
    SELECT
      l_returnflag,
      CAST(MAX(tot_wt) AS BIGINT) AS total_weight,
      CAST(MIN(CASE WHEN 2 * cum_wt >= tot_wt THEN price END) AS DOUBLE)
        AS weighted_median_price
    FROM w
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile", "weighted"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per group — the statistic percentile_approx
    and plain median can't express: each row counts with its weight
    (price weighted by quantity), and the median is the first value whose
    cumulative weight reaches half the total. The threshold test is the
    integer cross-comparison 2·cum ≥ tot (no float division), and the
    cumulative ordering (price, orderkey, linenumber) is a total order,
    so both engines pick the identical row.

    Scale shape: l_returnflag has THREE values, so a flag-partitioned
    cumulative window would funnel the whole lineitem table through three
    tasks. The running weight instead comes from the two-phase bucketed
    cumsum (:func:`two_phase_rank`): price-range buckets accumulate in
    parallel and only the ≤4096-row per-bucket totals cross an ordered
    window per flag. Keys are integer cents (injective on the 2-decimal
    price, range·4096 ≪ 2^63) and the tie ``orderkey·8 + linenumber``
    (linenumber ≤ 7) reproduces the (orderkey, linenumber) lexicographic
    order, so the bucketed cumsum is bit-identical to the naive window.
    Group totals are a separate map-side-combined rollup broadcast back.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        # mirrors the oracle WHERE — see the oracle comment
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_orderkey").isNotNull()
        # flagless rows are unattributable AND their group would vanish
        # asymmetrically at two_phase_rank's internal equi-join
        & F.col("l_returnflag").isNotNull()
    )
    wt = F.col("l_quantity").cast("long")
    base = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        cents("l_extendedprice").alias("price_c"),
        wt.alias("wt"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("tie"),
    )
    cum = two_phase_rank(
        base,
        F.col("price_c"),
        "tie",
        cums={"wt": F.col("wt")},
        partition_cols=("l_returnflag",),
    )
    tot = base.groupBy("l_returnflag").agg(F.sum("wt").alias("tot_wt"))
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.max("tot_wt").cast("long").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cum_wt") >= F.col("tot_wt"), F.col("price"))
            )
            .cast("double")
            .alias("weighted_median_price"),
        )
    )


@query(
    "agg_listagg",
    oracle="""
    SELECT
      o_orderpriority,
      string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        AS statuses,
      CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "listagg", "string"),
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 LISTAGG ... WITHIN GROUP): the
    SQL-standard way to fold a group's values into one delimited string —
    WITHOUT the WITHIN GROUP ordering the fold order is partition-
    dependent and the result nondeterministic, which is why the ordered
    form is the only one registered here (same reason collect_list is
    always wrapped in array_sort elsewhere in this repo).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(DISTINCT o_orderstatus, ',')"
            " WITHIN GROUP (ORDER BY o_orderstatus)"
        ).alias("statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "scalar_try_arithmetic",
    oracle=f"""
    SELECT
      l_returnflag,
      -- every row whose try_divide is NULL: zero divisor OR a NULL in
      -- either operand (a zero-only filter undercounts NULL
      -- prices/discounts)
      CAST(COUNT(*) FILTER (
        WHERE l_discount = 0 OR l_discount IS NULL
           OR l_extendedprice IS NULL
      ) AS BIGINT) AS n_null_ratio,
      CAST(SUM(CASE WHEN l_discount <> 0
               THEN (200 * {oracle_cents('l_extendedprice')}
                     + {oracle_cents('l_discount')})
                    // (2 * {oracle_cents('l_discount')}) END)
           AS BIGINT) AS sum_ratio_hundredths,
      CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("scalar", "ansi", "try-arithmetic"),
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: Spark 4 runs with ANSI mode ON by default,
    so x/0 and overflow RAISE instead of returning NULL/wrapping — the
    ``try_`` function family (try_divide here) restores the permissive
    per-row behavior exactly where the query author opts in, turning
    division by a zero discount into NULL instead of failing the job at
    row 40-billion of a 100 TB scan. The rollup counts the NULLs (the
    rows a non-try division would have killed) and sums the survivors.

    The NULL count pins try_divide's permissive semantics (the operator
    under test). The survivor sum is exact by construction:
    price/discount is the RATIONAL cents_p/cents_d, and its
    2dp half-up rounding is the pure integer ``(200·a + b) // (2·b)``
    (hundredth units) — no decimal round exists at all. The previous form
    rounded a DECIMAL(30,8) quotient to 2dp: quotients of 2-decimal
    prices by 2-decimal discounts terminate exactly on a halfway boundary
    on 3,071 rows at sf0.01 (0.01/0.08 = 0.125 and friends) — the same
    tie-dense hazard class that flipped ``sql_temp_function``'s driver
    hash. Integer division has no tie for an engine to break, and
    the int64 sum is order-independent under any partitioning
    (per-row ≤ 1e9 hundredths; 6e8 rows at sf100 stays below 2^63).
    """
    li = load_table(spark, sf_dir, "lineitem")
    raw_ratio = F.try_divide(F.col("l_extendedprice"), F.col("l_discount"))
    hundredths = F.when(
        F.col("l_discount") != 0,
        F.expr(
            f"(200 * {oracle_cents('l_extendedprice')}"
            f" + {oracle_cents('l_discount')})"
            f" div (2 * {oracle_cents('l_discount')})"
        ),
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(raw_ratio.isNull(), 1)).alias("n_null_ratio"),
        F.sum(hundredths).alias("sum_ratio_hundredths"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_corr_covar",
    oracle=f"""
    WITH m AS (
      SELECT
        l_returnflag,
        CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        SUM({oracle_cents('l_quantity', 'DECIMAL(38,0)')}) AS sx,
        SUM({oracle_cents('l_extendedprice', 'DECIMAL(38,0)')}) AS sy,
        SUM({oracle_cents('l_quantity', 'DECIMAL(38,0)')}
          * {oracle_cents('l_quantity', 'DECIMAL(38,0)')}) AS sxx,
        SUM({oracle_cents('l_extendedprice', 'DECIMAL(38,0)')}
          * {oracle_cents('l_extendedprice', 'DECIMAL(38,0)')}) AS syy,
        SUM({oracle_cents('l_quantity', 'DECIMAL(38,0)')}
          * {oracle_cents('l_extendedprice', 'DECIMAL(38,0)')}) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    -- Wide exact sums convert to double through VARCHAR: DuckDB's native
    -- INT128->double cast mis-rounds ~1.3% of >2^53 values (sxx/syy/sxy
    -- exceed 2^53 at sf0.1) and the behavior is engine-BUILD-dependent —
    -- the strtod parse is correctly rounded on every build, matching
    -- Spark's BigDecimal path bit-for-bit.
    SELECT
      l_returnflag,
      CAST(n AS BIGINT) AS n_rows,
      (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
        AS corr_qty_price,
      (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 10000.0
        AS covar_pop_units
    FROM m
    """,
    tags=("agg", "statistics"),
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance of quantity vs price per
    return flag — the `corr()`/`covar_pop()` surface, re-derived from EXACT
    integer moments so the result is bit-stable and oracle-checkable.

    Built-in `corr()` accumulates running double means whose partition
    order varies run to run; here both measures quantize to integer cents
    first, the five moment sums accumulate in DECIMAL(38,0) (sum of y² at
    sf0.1 already exceeds int64), and only the final closed-form formula
    touches doubles — identical expression structure on both engines, so
    the doubles agree to the last bit.

    100 TB: one map-side partial aggregation into a |flags|-row shuffle —
    the same single-pass moment-sketch shape as `agg_variance`.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = cents("l_quantity", "decimal(38,0)")
    y = cents("l_extendedprice", "decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        # try_divide: a zero-variance measure (all-constant qty or price)
        # makes √(denx·deny) exactly 0 — Spark 4 ANSI raises
        # DIVIDE_BY_ZERO on DOUBLE/0 where DuckDB and ANSI-off Spark
        # return NULL.
        F.try_divide(
            nd * sxyd - sxd * syd,
            F.sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)),
        ).alias("corr_qty_price"),
        ((nd * sxyd - sxd * syd) / (nd * nd) / F.lit(10000.0)).alias(
            "covar_pop_units"
        ),
    )


@query(
    "agg_skew_kurtosis",
    oracle=f"""
    WITH m AS (
      SELECT
        l_returnflag,
        CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        SUM({oracle_cents('l_quantity', 'DECIMAL(38,0)')}) AS s1,
        SUM({oracle_cents('l_quantity', 'DECIMAL(38,0)')}
          * {oracle_cents('l_quantity', 'DECIMAL(38,0)')}) AS s2,
        SUM({oracle_cents('l_quantity', 'DECIMAL(38,0)')}
          * {oracle_cents('l_quantity', 'DECIMAL(38,0)')}
          * {oracle_cents('l_quantity', 'DECIMAL(38,0)')}) AS s3,
        SUM({oracle_cents('l_quantity', 'DECIMAL(38,0)')}
          * {oracle_cents('l_quantity', 'DECIMAL(38,0)')}
          * {oracle_cents('l_quantity', 'DECIMAL(38,0)')}
          * {oracle_cents('l_quantity', 'DECIMAL(38,0)')}) AS s4
      FROM lineitem
      GROUP BY l_returnflag
    )
    -- s2/s3/s4 (power sums of cents) exceed 2^53 (s3 ~2.5e16 and s4
    -- ~1.25e20 at sf0.1): VARCHAR-routed conversion is correctly
    -- rounded on any DuckDB build (native INT128->double is not),
    -- matching Spark's BigDecimal path.
    SELECT
      l_returnflag,
      CAST(n AS BIGINT) AS n_rows,
      (CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
        + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
      / ((CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
         * sqrt(CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
        AS skewness,
      (CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
        + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
        - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
      / ((CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
         * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) - 3.0
        AS excess_kurtosis
    FROM m
    """,
    tags=("agg", "statistics", "moments"),
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per return flag from EXACT integer
    moment sums — completing the moment-sketch family (count/sum →
    variance → correlation → 3rd/4th moments). Built-in
    `skewness()`/`kurtosis()` accumulate running doubles whose partition
    order shifts low bits; here the four power sums are exact
    DECIMAL(38,0) (cents⁴ ≈ 1e28/row — still 10 orders below the decimal
    ceiling at sf0.1), and the population-moment formulas run as an
    identical double-op sequence on both engines, so the statistics
    hash-match bit-for-bit.

    100 TB: one map-side-combined shuffle of |flags| groups, same as
    every other moment sketch. (At corpus scales where cents⁴·rows
    approaches 1e38, drop to per-partition int128-in-decimal partials —
    the merge tree is unchanged.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = cents("l_quantity", "decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    m2 = F.col("s2").cast("double") / nd
    m3 = F.col("s3").cast("double") / nd
    m4 = F.col("s4").cast("double") / nd
    var = m2 - m1 * m1
    # var^1.5 as var * sqrt(var): IEEE multiply is exact and sqrt is
    # correctly rounded, whereas pow(x, 1.5) is libm-dependent (JVM vs
    # DuckDB last-ulp drift, see scalar_math).
    # try_divide: zero-variance input makes var^1.5 / var² exactly 0 —
    # Spark 4 ANSI raises DIVIDE_BY_ZERO on DOUBLE/0 where DuckDB and
    # ANSI-off Spark return NULL.
    skew = F.try_divide(
        m3 - F.lit(3.0) * m1 * m2 + F.lit(2.0) * m1 * m1 * m1,
        var * F.sqrt(var),
    )
    kurt = F.try_divide(
        m4
        - F.lit(4.0) * m1 * m3
        + F.lit(6.0) * m1 * m1 * m2
        - F.lit(3.0) * m1 * m1 * m1 * m1,
        var * var,
    ) - F.lit(3.0)
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        skew.alias("skewness"),
        kurt.alias("excess_kurtosis"),
    )


@query(
    "agg_rollup_count_distinct",
    oracle="""
    SELECT
      COALESCE(o_orderstatus, 'ALL') AS status,
      COALESCE(o_orderpriority, 'ALL') AS priority,
      CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    """,
    tags=("agg", "rollup", "distinct"),
)
def agg_rollup_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) under ROLLUP — the planner interaction the plain
    rollup and plain distinct queries each dodge: every rollup level
    needs its OWN distinct set (a customer counted once at the
    (status, priority) grain may repeat across priorities at the status
    subtotal), so Catalyst expands rows per grouping set AND per distinct
    aggregate. Correct subtotals here prove the Expand × distinct
    combination, which naive "sum the leaf counts" re-aggregation gets
    wrong whenever an entity spans groups.

    100 TB note: cost is (#grouping sets) row replicas into the distinct
    shuffle — bounded and explicit; for wide lattices swap in per-level
    HLL sketches (`agg_sketch_merge_rollup`) and keep the same shape.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .where(F.col("n_orders") > 0)
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_customers",
            "n_orders",
        )
    )


# Benford expected first-digit probabilities log10(1 + 1/d), precomputed in
# Python and inlined as IDENTICAL 17-digit literals into both engines (no
# log10() runs at query time).
_BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


@query(
    "agg_benford_digit_test",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST({oracle_cents('o_totalprice')} AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), obs AS (
      SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit
    ), exp AS (
      SELECT digit, CAST(p AS DOUBLE) AS p FROM (VALUES
        {", ".join(f"({d}, {p!r})" for d, p in _BENFORD_P.items())}
      ) AS t(digit, p)
    ), tot AS (SELECT SUM(n_obs) AS n FROM obs)
    SELECT
      e.digit,
      CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
      e.p * tot.n AS n_expected,
      (CAST(COALESCE(o.n_obs, 0) AS DOUBLE) - e.p * tot.n)
        * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE) - e.p * tot.n)
        / (e.p * tot.n) AS chi2_term
    FROM exp e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN tot
    """,
    tags=("agg", "data-quality", "benford"),
)
def agg_benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit test on order totals — the classic
    fabricated-data / unit-mix detector: naturally occurring money
    amounts lead with 1 ~30% of the time; synthetic or truncated data
    deviates, and the per-digit χ² terms localize where.

    The first digit comes from exact integer cents rendered to string
    (no float log10 at query time — the expected probabilities are
    17-digit literals precomputed once and inlined identically in both
    engines), so observed counts are exact and the χ² terms are the same
    fixed double-op sequence on both sides. One map-side-combined shuffle
    of 9 digit groups. (The synthetic prices are uniform, not Benford —
    the large χ² terms themselves are the demonstration.)
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        cents("o_totalprice").cast("string"),
        1,
        1,
    ).cast("int")
    obs = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    exp = spark.createDataFrame(
        list(_BENFORD_P.items()), "digit int, p double"
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    joined = (
        exp
        # obs is 9 rows; the LEFT side of a left join cannot broadcast, so
        # hint the RIGHT side and let the 9x9 join stay trivially local.
        .join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            (F.col("p") * F.col("n")).alias("n_expected"),
            (
                (F.coalesce(F.col("n_obs"), F.lit(0)).cast("double") - F.col("p") * F.col("n"))
                * (F.coalesce(F.col("n_obs"), F.lit(0)).cast("double") - F.col("p") * F.col("n"))
                / (F.col("p") * F.col("n"))
            ).alias("chi2_term"),
        )
    )
    return joined


# Count-Min Sketch geometry: depth x width cells, pairwise-independent
# polynomial hashes over the Mersenne prime 2^31-1 (same ANSI-overflow-safe
# family as the minhash permutations: every intermediate < 2^62). The
# coefficients are plain integers so the DuckDB oracle reproduces the
# sketch BIT-FOR-BIT — this is the rare sketch whose cross-engine check is
# a full hash match, not rows-only.
_CMS_P = (1 << 31) - 1
_CMS_W = 8192
_CMS_ROWS = tuple(
    (
        j,
        (73856093 * (j + 101) + 19349663) % _CMS_P or 1,
        (83492791 * (j + 101) + 104729) % _CMS_P,
    )
    for j in range(4)
)
_CMS_TOPN = 20


@query(
    "agg_countmin_sketch",
    oracle=f"""
    WITH h(j, a, b) AS (
      VALUES {", ".join(f"({j}, {a}, {b})" for j, a, b in _CMS_ROWS)}
    ), cells AS (
      SELECT h.j AS j,
             ((h.a * (l.l_partkey % {_CMS_P}) + h.b) % {_CMS_P}) % {_CMS_W}
               AS cell,
             COUNT(*) AS c
      FROM lineitem l CROSS JOIN h
      GROUP BY 1, 2
    ), truth AS (
      SELECT l_partkey, COUNT(*) AS true_cnt
      FROM lineitem GROUP BY l_partkey
      ORDER BY true_cnt DESC, l_partkey
      LIMIT {_CMS_TOPN}
    ), probes AS (
      SELECT t.l_partkey, t.true_cnt, h.j AS j,
             ((h.a * (t.l_partkey % {_CMS_P}) + h.b) % {_CMS_P}) % {_CMS_W}
               AS cell
      FROM truth t CROSS JOIN h
    )
    SELECT p.l_partkey,
           CAST(MAX(p.true_cnt) AS BIGINT) AS true_cnt,
           CAST(MIN(c.c) AS BIGINT) AS est_cnt
    FROM probes p JOIN cells c ON p.j = c.j AND p.cell = c.cell
    GROUP BY p.l_partkey
    """,
    tags=("agg", "sketch", "frequent-items", "approx"),
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation (Cormode & Muthukrishnan 2005):
    build a {len(_CMS_ROWS)}x{_CMS_W} sketch over l_partkey in one pass,
    then point-query the top-{_CMS_TOPN} true keys and report estimated vs
    true counts (CMS guarantees est >= true; est - true <= eN w.h.p. —
    asserted in tests/test_operators.py).

    This is THE mergeable frequency structure at 100 TB: the sketch is a
    fixed 32K-cell integer table regardless of input size, partial sketches
    merge by cell-wise addition (exactly what the map-side-combined groupBy
    below does across partitions), and a point query touches depth cells.
    Unlike ``agg_heavy_hitters`` (exact, needs a per-KEY shuffle whose
    cardinality follows the data), the sketch's shuffle is bounded by
    geometry: after map-side combine each partition emits <= 32K rows no
    matter how many billions of keys flow through it — the structure you
    keep when per-key counting stops fitting.

    Plan shape: fact scan -> map-side explode to depth cells -> ONE
    bounded-cardinality shuffle (the cell counts) -> broadcast probe join.
    The truth side reuses the exact count only to pick stable probe keys
    for the cross-engine check.

    Determinism: polynomial hashes over the Mersenne prime in exact int64
    (every intermediate < 2^62 — ANSI-safe); both engines compute identical
    cells, so the oracle hash-matches bit-for-bit (no xxhash involved).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    hrows = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    (F.lit(a) * (F.col("l_partkey") % _CMS_P) + F.lit(b))
                    % _CMS_P
                    % _CMS_W
                ).alias("cell"),
            )
            for j, a, b in _CMS_ROWS
        ]
    )
    cells = (
        li.select(F.explode(hrows).alias("hc"))
        .groupBy(F.col("hc.j").alias("j"), F.col("hc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    truth = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), F.col("l_partkey"))
        .limit(_CMS_TOPN)
    )
    probes = truth.select(
        "l_partkey",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            (F.lit(a) * (F.col("l_partkey") % _CMS_P) + F.lit(b))
                            % _CMS_P
                            % _CMS_W
                        ).alias("cell"),
                    )
                    for j, a, b in _CMS_ROWS
                ]
            )
        ).alias("hc"),
    ).select("l_partkey", "true_cnt", F.col("hc.j").alias("j"), F.col("hc.cell").alias("cell"))
    return (
        F.broadcast(probes)
        .join(cells, ["j", "cell"])
        .groupBy("l_partkey")
        .agg(
            F.max("true_cnt").alias("true_cnt"),
            F.min("c").alias("est_cnt"),
        )
    )


@query(
    "agg_extrema_argminmax",
    oracle="""
    WITH o AS (
      SELECT
        o_orderpriority,
        o_orderkey,
        o_totalprice,
        CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
          AS BIGINT) * 10000000000 + o_orderkey AS ord
      FROM orders
    )
    SELECT
      o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(arg_max(o_orderkey, ord) AS BIGINT) AS latest_orderkey,
      CAST(arg_min(o_orderkey, ord) AS BIGINT) AS earliest_orderkey,
      MAX(o_totalprice) AS max_price,
      MIN(o_totalprice) AS min_price
    FROM o
    GROUP BY o_orderpriority
    """,
    tags=("agg", "argminmax"),
)
def agg_extrema_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extrema aggregation: per order priority, the order key of the
    newest and oldest order (``max_by``/``min_by``) alongside the plain
    price extrema — the "which row set the max" question that otherwise
    costs a self-join or a rank window.

    Determinism is the whole trick: ``max_by`` on a tied ordering value is
    engine- and partition-order-dependent, so the ordering key is made
    UNIQUE by construction — epoch-day · 10^10 + orderkey, pure integer
    arithmetic both engines compute identically (DuckDB's twin is
    ``arg_max``/``arg_min``). No floats in the ordering path.

    Scale shape: single two-phase hash aggregate — ``max_by`` carries one
    (value, ord) pair per group per partition through the partial, so the
    shuffle is |groups| rows regardless of input size. This is the
    O(1)-state alternative to the rank-window-then-filter idiom, which
    would sort every group. 100 TB-safe by construction.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        (
            F.expr(
                "timestampdiff(DAY, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                " o_orderdate)"
            ).cast("long")
            * F.lit(10000000000).cast("long")
            + F.col("o_orderkey")
        ).alias("ord"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max_by("o_orderkey", "ord").alias("latest_orderkey"),
        F.min_by("o_orderkey", "ord").alias("earliest_orderkey"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )
