"""Relational core: scan, projection, filter (SURVEY.md §2 Part B rows 1-4).

Reference parity: the reference's only relational ops are `SELECT *` scans
with LIMIT (notebook cells 7/9, README.md:569) and a star projection inside
INSERT..SELECT (pyspark_jobs/iceberg_table_creation.py:81-85). These queries
widen that to computed projections and the full predicate battery.

Scale notes: every filter here is a simple column predicate, so Catalyst
pushes it into the parquet scan (PushedFilters) and prunes columns
(ReadSchema); no shuffle except the final aggregation, which is map-side
partial first. At 100 TB these stay scan-bound and embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import dec, oracle_cents, oracle_dsum
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table


@query(
    "pricing_summary",
    oracle=f"""
    WITH c AS (
      SELECT
        l_returnflag,
        l_linestatus,
        {oracle_cents('l_quantity')} AS qc,
        {oracle_cents('l_extendedprice')} AS pc,
        {oracle_cents('l_discount')} AS dc,
        {oracle_cents('l_tax')} AS tc
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2002-09-02 00:00:00'
    )
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(qc) AS DOUBLE) / 100.0 AS sum_qty,
      CAST(SUM(pc) AS DOUBLE) / 100.0 AS sum_base_price,
      CAST(SUM(pc * (100 - dc)) AS DOUBLE) / 10000.0 AS sum_disc_price,
      CAST(SUM(pc * (100 - dc) * (100 + tc)) AS DOUBLE) / 1000000.0
        AS sum_charge,
      CAST(SUM(qc) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
      CAST(SUM(pc) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
      CAST(SUM(dc) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter", "flagship"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan → pushed filter → hash agg → sort.

    The flagship query (`entry()` runs it at sf0.001). The shipdate filter
    and 7-column projection reach the parquet scan; aggregation is
    two-tier exact-integer:

    - Tier 1 groups by (flag, status, partition-id) with plain INT64 sums
      of centi/micro-unit integers — the whole per-row path (round, cast,
      two long multiplies, long adds) stays inside whole-stage codegen.
      This is ~2.5x faster than the decimal(30,6) dsum path (measured
      1.60s -> 0.60s at sf0.1): no Int128 arithmetic touches the hot loop.
      Per-partition int64 partials cannot overflow: the charge term is
      <= ~1.2e11 micro-units/row, so a partition would need ~7e7 rows
      (~70 parquet row groups) to wrap — two orders past any real split.
    - Tier 2 merges the <= 6-per-partition partial rows under a
      decimal(38,0) accumulator, so the GLOBAL total has no scale ceiling
      (a single int64 grand total would wrap near ~2e8 rows per group,
      i.e. ~sf250 — not 100 TB-safe). The merge input is |partitions| x 6
      rows: decimal cost is O(partitions), not O(rows).

    The oracle mirrors the same exact integer sums (DuckDB accumulates
    BIGINT into INT128), and both engines finish with the identical
    integer -> double -> divide sequence, so results are bit-identical
    under any partitioning. avg_* divisions are sequenced (S/100)/n on
    both sides.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    tc = F.round(F.col("l_tax") * 100).cast("long")
    part = (
        li.filter(
            F.col("l_shipdate") <= F.lit("2002-09-02 00:00:00").cast("timestamp")
        )
        .groupBy(
            "l_returnflag",
            "l_linestatus",
            F.spark_partition_id().alias("__pid"),
        )
        .agg(
            F.sum(qc).alias("q"),
            F.sum(pc).alias("p"),
            F.sum(pc * (F.lit(100) - dc)).alias("pd"),
            F.sum(pc * (F.lit(100) - dc) * (F.lit(100) + tc)).alias("pdt"),
            F.sum(dc).alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    _D38 = "decimal(38,0)"
    tot = part.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("q").cast(_D38)).alias("q"),
        F.sum(F.col("p").cast(_D38)).alias("p"),
        F.sum(F.col("pd").cast(_D38)).alias("pd"),
        F.sum(F.col("pdt").cast(_D38)).alias("pdt"),
        F.sum(F.col("d").cast(_D38)).alias("d"),
        F.sum("n").alias("count_order"),
    )
    return tot.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("q").cast("double") / 100.0).alias("sum_qty"),
        (F.col("p").cast("double") / 100.0).alias("sum_base_price"),
        (F.col("pd").cast("double") / 10000.0).alias("sum_disc_price"),
        (F.col("pdt").cast("double") / 1000000.0).alias("sum_charge"),
        (F.col("q").cast("double") / 100.0 / F.col("count_order")).alias(
            "avg_qty"
        ),
        (F.col("p").cast("double") / 100.0 / F.col("count_order")).alias(
            "avg_price"
        ),
        (F.col("d").cast("double") / 100.0 / F.col("count_order")).alias(
            "avg_disc"
        ),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


@query(
    "filter_predicates",
    oracle="""
    SELECT
      o_orderkey,
      o_orderstatus,
      o_totalprice,
      o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 150000
      AND o_orderstatus IN ('F', 'P')
      AND o_orderpriority LIKE '%URGENT%'
      AND o_orderdate IS NOT NULL
      AND (o_custkey % 2 = 0 OR o_totalprice > 100000)
    """,
    tags=("filter",),
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate battery: BETWEEN, IN, LIKE, IS NULL, boolean combos.

    All predicates are scan-pushable (BETWEEN/IN/IS NOT NULL go to parquet
    row-group stats; LIKE '%..%' evaluates post-scan inside codegen).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(50000, 150000)
        & F.col("o_orderstatus").isin("F", "P")
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_orderdate").isNotNull()
        & ((F.col("o_custkey") % 2 == 0) | (F.col("o_totalprice") > 100000))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "projection_compute",
    oracle="""
    SELECT
      l_orderkey AS order_key,
      l_linenumber AS line_no,
      l_extendedprice * (1 - l_discount) AS net_price,
      l_quantity * 2.5 + 1 AS scaled_qty,
      CAST(l_extendedprice / l_quantity AS DOUBLE) AS unit_price
    FROM lineitem
    WHERE l_quantity > 0 AND l_orderkey % 100 = 0
    """,
    tags=("projection",),
)
def projection_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection: rename + computed columns; per-row double arithmetic is
    deterministic (IEEE ops, identical in both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 0) & (F.col("l_orderkey") % 100 == 0)).select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (F.col("l_quantity") * 2.5 + 1).alias("scaled_qty"),
        (F.col("l_extendedprice") / F.col("l_quantity")).cast("double").alias("unit_price"),
    )


@query(
    "scan_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "limit"),
)
def scan_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (reference A10's LIMIT widened to a deterministic order).

    Spark runs this as TakeOrderedAndProject: per-partition top-10 then a
    10-row driver merge — no global sort shuffle, O(k) memory at any scale.
    The o_orderkey tiebreak makes the result set deterministic.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_PARAM_THRESHOLD = 150_000.0
_PARAM_STATUS = "F"


@query(
    "sql_parameterized",
    oracle=f"""
    SELECT
      o_orderpriority,
      COUNT(*) AS n_orders,
      CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    WHERE o_totalprice > {_PARAM_THRESHOLD} AND o_orderstatus = '{_PARAM_STATUS}'
    GROUP BY o_orderpriority
    """,
    tags=("sql", "parameterized"),
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args={...})) — the
    injection-safe templating API: parameter markers bind TYPED literals
    at parse time, so user values never concatenate into SQL text, and
    Catalyst constant-folds them exactly like inline literals (the filter
    still reaches the parquet scan as a pushed predicate).

    The oracle inlines the same values — results must be identical, which
    pins binding semantics (numeric stays double, string stays string).
    """
    return spark.sql(
        """
        SELECT
          o_orderpriority,
          COUNT(*) AS n_orders,
          CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        FROM {orders}
        WHERE o_totalprice > :threshold AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"threshold": _PARAM_THRESHOLD, "status": _PARAM_STATUS},
        orders=load_table(spark, sf_dir, "orders"),
    )


_LATERAL_SQL = """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM {nation} n,
    LATERAL (
      SELECT c_name, c_acctbal FROM {customer} c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t
"""


@query(
    "sql_lateral_topn",
    oracle=_LATERAL_SQL.format(nation="nation", customer="customer"),
    tags=("sql", "lateral", "correlated"),
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — the per-row-subquery dialect for
    top-N-per-group: for each nation, the lateral block re-executes
    "top-2 customers by balance" with the outer row in scope. The
    IDENTICAL statement text runs on Spark and DuckDB (strong dialect
    parity, like sql_recursive_reachability); the deterministic (balance,
    name) tiebreak makes the result hashable.

    Catalyst decorrelates this to a ranked window under the hood — the
    plan is the same WindowGroupLimit shape as window_topk_per_group, NOT
    |nations| query re-executions, which is why the construct survives at
    scale (a naive per-outer-row loop would be a driver-side O(n) query
    storm).
    """
    return spark.sql(
        _LATERAL_SQL,
        nation=load_table(spark, sf_dir, "nation"),
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority, n_orders, max_price FROM (
      SELECT
        o_orderpriority,
        COUNT(*) AS n_orders,
        CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
      FROM orders
      WHERE o_orderstatus = 'O'
      GROUP BY o_orderpriority
    ) WHERE n_orders > 10
    """,
    tags=("sql", "pipe-syntax"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.1 ``|>`` operators — the linear dataflow
    dialect): FROM → WHERE → AGGREGATE → WHERE reads top-to-bottom like a
    DataFrame chain, and the post-aggregate WHERE replaces HAVING. Parses
    to the identical logical plan as the nested-subquery oracle — the
    filter still pushes to the scan, the aggregate still runs two-phase —
    so this pins the dialect to standard-SQL semantics.
    """
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "util_observe_metrics",
    oracle=f"""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_scanned,
      {oracle_dsum('l_quantity')} AS total_qty,
      CAST(COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT)
        AS null_ship_dates,
      CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_kept
    FROM lineitem
    """,
    tags=("util", "observe", "observability"),
)
def util_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``Dataset.observe``: data-quality
    counters (rows scanned, decimal-exact quantity total, null-date count)
    ride the SAME pass as the business filter — no second scan, no
    separate validation job. This is how ingest pipelines meter themselves
    at 100 TB: observations are accumulator-backed, cost O(1) per row on
    the already-running scan, and surface through the observation API /
    QueryExecutionListener in production.

    The observed values and the filter's own output are returned together
    as one row, pinned to an oracle that computes the same four numbers —
    so the accumulator path itself is verified against plain SQL.
    """
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("ingest_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_scanned"),
        F.sum(dec("l_quantity")).alias("qty_dec"),
        F.count(F.when(F.col("l_shipdate").isNull(), 1)).alias(
            "null_ship_dates"
        ),
    )
    n_kept = (
        observed.filter(F.col("l_discount") > 0.05)
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .collect()[0]["n_kept"]
    )
    m = obs.get
    # Empty scan: the observed SUM is None (NULL), matching the oracle's
    # SUM over zero rows.
    qty = m["qty_dec"]
    return spark.range(1).select(
        F.lit(m["n_scanned"]).cast("long").alias("n_scanned"),
        F.lit(None if qty is None else float(qty)).cast("double").alias(
            "total_qty"
        ),
        F.lit(m["null_ship_dates"]).cast("long").alias("null_ship_dates"),
        F.lit(n_kept).cast("long").alias("n_kept"),
    )


@query(
    "sql_group_order_by_all",
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {oracle_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    tags=("sql", "group-by-all"),
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (the analyst-ergonomics SQL
    surface both Spark 3.4+/4 and DuckDB adopted): every non-aggregate
    select item becomes a grouping key, and ORDER BY ALL sorts by the full
    select list left-to-right. The oracle runs the IDENTICAL text, so this
    pins both dialects to the same resolution rules. Resolves to the same
    two-phase hash aggregate as an explicit GROUP BY — the sugar is
    analysis-time only, zero plan cost.
    """
    return spark.sql(
        f"""
        SELECT
          o_orderstatus,
          o_orderpriority,
          CAST(COUNT(*) AS BIGINT) AS n_orders,
          {oracle_dsum('o_totalprice')} AS total_price
        FROM {{orders}}
        GROUP BY ALL
        ORDER BY ALL
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_identifier_clause",
    oracle="""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("sql", "identifier", "parameterized"),
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IDENTIFIER()`` clause (Spark 4): column NAMES arrive as bound
    parameters — the injection-safe way to template object names,
    completing the parameter surface (sql_parameterized binds VALUES;
    this binds identifiers). A name parameter can never smuggle SQL: the
    string resolves as one identifier or fails analysis.

    The oracle runs the equivalent static text — identifier binding is
    analysis-time substitution with zero plan cost, so both engines see
    the same aggregate over the same table.
    """
    return spark.sql(
        """
        SELECT
          IDENTIFIER(:keycol),
          CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(MAX(CAST(IDENTIFIER(:pricecol) AS DECIMAL(18,2))) AS DOUBLE)
            AS max_price
        FROM {orders}
        GROUP BY IDENTIFIER(:keycol)
        """,
        args={"keycol": "o_orderstatus", "pricecol": "o_totalprice"},
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_named_window",
    oracle=f"""
    SELECT
      l_orderkey,
      l_linenumber,
      l_returnflag,
      ROW_NUMBER() OVER w AS rn,
      CAST(SUM({oracle_cents('l_extendedprice')}) OVER w AS BIGINT) AS running_cents
    FROM lineitem
    WHERE l_quantity >= 45
    WINDOW w AS (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice NULLS LAST, l_orderkey NULLS LAST,
                          l_linenumber)
    """,
    tags=("sql", "window", "dialect"),
)
def sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named ``WINDOW`` clause: one window definition referenced by two
    window functions — the SQL-standard sugar both Spark and DuckDB
    support. The oracle runs structurally IDENTICAL text, pinning both
    dialects to the same frame-default rules (ORDER BY present → RANGE
    UNBOUNDED PRECEDING..CURRENT ROW; with row_number's total-order keys
    the frame is effectively row-unique, so the running sum is exact).
    Catalyst expands the named window at analysis time — both functions
    share ONE exchange + sort, zero extra plan cost.
    """
    return spark.sql(
        f"""
        SELECT
          l_orderkey,
          l_linenumber,
          l_returnflag,
          ROW_NUMBER() OVER w AS rn,
          CAST(SUM({oracle_cents('l_extendedprice')}) OVER w AS BIGINT) AS running_cents
        FROM {{lineitem}}
        WHERE l_quantity >= 45
        WINDOW w AS (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice NULLS LAST,
                              l_orderkey NULLS LAST, l_linenumber)
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "sql_session_variable",
    oracle="""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_above,
      CAST(MIN(o_totalprice) AS DOUBLE) AS min_above
    FROM orders
    WHERE o_totalprice > 100000.0
    GROUP BY o_orderstatus
    """,
    tags=("sql", "variables"),
)
def sql_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 ``DECLARE VARIABLE`` / ``SET
    VARIABLE``): a typed server-side variable referenced by name inside a
    query — the session-scoped cousin of parameter binding
    (`sql_parameterized`), used by SQL-only workflows that cannot thread
    client-side args. The oracle inlines the same constant, so variable
    resolution and typing are what the hash pins. Variables resolve at
    analysis time — the plan is identical to the inlined constant,
    including the pushed-down filter.
    """
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE")
    spark.sql("SET VARIABLE price_floor = 100000.0")
    return spark.sql(
        """
        SELECT
          o_orderstatus,
          CAST(COUNT(*) AS BIGINT) AS n_above,
          CAST(MIN(o_totalprice) AS DOUBLE) AS min_above
        FROM {orders}
        WHERE o_totalprice > price_floor
        GROUP BY o_orderstatus
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "util_profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_repr,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_repr
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    """,
    tags=("util", "profiling", "data-quality"),
)
def util_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact column profiling — the discovery step before
    `curate_expectations` writes rules: per column, null count, EXACT
    distinct count, and min/max rendered through explicit per-type
    formatting (timestamps via a fixed pattern — never the engine's
    default repr, which differs across engines and sessions).

    Unlike `df.summary()` (approximate distinct, stringly output), every
    number here is exact and oracle-checked. One scan computes all
    per-column aggregates simultaneously; the profile is then reshaped to
    one row per column with `stack` (post-agg, zero extra passes over
    data). Multiple COUNT(DISTINCT)s do expand the aggregate
    (one replica per distinct column — documented in `agg_distinct`); for
    100 TB profiling swap exact distincts for HLL and keep the shape.
    """
    o = load_table(spark, sf_dir, "orders")
    ts_fmt = "yyyy-MM-dd HH:mm:ss"
    prof = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            a
            for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
            for a in (
                F.count(c).alias(f"nn_{c}"),
                F.count_distinct(F.col(c)).alias(f"nd_{c}"),
                F.min(c).cast("string").alias(f"mn_{c}"),
                F.max(c).cast("string").alias(f"mx_{c}"),
            )
        ],
        F.count("o_orderdate").alias("nn_o_orderdate"),
        F.count_distinct(F.col("o_orderdate")).alias("nd_o_orderdate"),
        F.date_format(F.min("o_orderdate"), ts_fmt).alias("mn_o_orderdate"),
        F.date_format(F.max("o_orderdate"), ts_fmt).alias("mx_o_orderdate"),
    )
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
    ]
    stack_expr = ", ".join(
        f"'{c}', n - nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return prof.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS "
        "(col_name, n_nulls, n_distinct, min_repr, max_repr)"
    ).selectExpr(
        "col_name",
        "CAST(n_nulls AS BIGINT) AS n_nulls",
        "CAST(n_distinct AS BIGINT) AS n_distinct",
        "min_repr",
        "max_repr",
    )


@query(
    "sql_execute_immediate",
    oracle="""
    SELECT
      o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 75000.0
    GROUP BY o_orderpriority
    """,
    tags=("sql", "dynamic", "execute-immediate"),
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE`` (Spark 4): run a SQL string held in a
    variable with ``USING`` parameter binding — the dynamic-SQL surface
    stored procedures and SQL-only orchestration rely on, completing the
    parameterization trio (typed args → `sql_parameterized`, injection-
    safe names → the IDENTIFIER query, dynamic statements → here).

    The statement text lives in a session variable; the table name and
    the two predicate values bind as named USING parameters. The oracle
    inlines the same constants, so parse-at-execute plus binding resolve
    to the identical plan, pushed-down filters included.
    """
    spark.sql("DECLARE OR REPLACE VARIABLE stmt STRING")
    spark.sql(
        """SET VARIABLE stmt =
        'SELECT o_orderpriority,
                CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
         FROM IDENTIFIER(:tbl)
         WHERE o_orderstatus = :st AND o_totalprice > :floor
         GROUP BY o_orderpriority'
        """
    )
    return spark.sql(
        "EXECUTE IMMEDIATE stmt USING '{orders}' AS tbl, 'O' AS st, 75000.0 AS floor",
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_values_inline",
    oracle="""
    SELECT t.region_code, r.r_name,
           CAST(COUNT(n.n_nationkey) AS BIGINT) AS n_nations
    FROM (VALUES (0, 'africa'), (1, 'america'), (2, 'asia'))
         AS t(region_key, region_code)
    JOIN region r ON r.r_regionkey = t.region_key
    LEFT JOIN nation n ON n.n_regionkey = t.region_key
    GROUP BY t.region_code, r.r_name
    """,
    tags=("sql", "values", "dialect"),
)
def sql_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline ``VALUES`` table constructor joined against real tables —
    the SQL-standard literal-table surface (seed rows, code↔name maps,
    test fixtures) with IDENTICAL statement text on both engines, pinning
    column-aliasing (`AS t(a, b)`) and type-inference rules. Catalyst
    plans the literal table as a LocalRelation that broadcasts — zero
    scan, zero shuffle for the lookup side.
    """
    return spark.sql(
        """
        SELECT t.region_code, r.r_name,
               CAST(COUNT(n.n_nationkey) AS BIGINT) AS n_nations
        FROM (VALUES (0, 'africa'), (1, 'america'), (2, 'asia'))
             AS t(region_key, region_code)
        JOIN {region} r ON r.r_regionkey = t.region_key
        LEFT JOIN {nation} n ON n.n_regionkey = t.region_key
        GROUP BY t.region_code, r.r_name
        """,
        region=load_table(spark, sf_dir, "region"),
        nation=load_table(spark, sf_dir, "nation"),
    )


@query(
    "util_table_reconcile",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 97 <> 0          -- rows "lost" by the migration
    ), dst AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 89 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 0.5
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderkey % 103 <> 0         -- rows the migration dropped
    )
    SELECT
      CAST(COUNT(*) FILTER (WHERE s.o_orderkey IS NOT NULL
                              AND d.o_orderkey IS NOT NULL) AS BIGINT)
        AS n_both,
      CAST(COUNT(*) FILTER (WHERE d.o_orderkey IS NULL) AS BIGINT)
        AS n_only_source,
      CAST(COUNT(*) FILTER (WHERE s.o_orderkey IS NULL) AS BIGINT)
        AS n_only_dest,
      CAST(COUNT(*) FILTER (WHERE s.o_orderkey IS NOT NULL
                              AND d.o_orderkey IS NOT NULL
                              AND s.o_orderstatus <> d.o_orderstatus) AS BIGINT)
        AS status_mismatches,
      CAST(COUNT(*) FILTER (WHERE s.o_orderkey IS NOT NULL
                              AND d.o_orderkey IS NOT NULL
                              AND s.o_totalprice <> d.o_totalprice) AS BIGINT)
        AS price_mismatches
    FROM src s FULL OUTER JOIN dst d ON s.o_orderkey = d.o_orderkey
    """,
    tags=("util", "reconciliation", "migration"),
)
def util_table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system table reconciliation — the migration sign-off report:
    a full-outer key join of source vs destination yields rows present
    only on each side plus PER-COLUMN mismatch counts among shared keys,
    localizing whether a migration lost rows, mangled a column, or both.
    (`lakehouse_snapshot_diff` diffs VERSIONS of one table; this
    reconciles two INDEPENDENT copies, the post-migration question.)

    Source and destination divergences are injected in-query by the same
    expressions on both engines (dropped keys each side, a corrupted
    status column, a shifted price column); all counters are exact
    integers. At 100 TB both sides project to (key, columns-under-audit)
    before the join, and per-column hashes replace wide comparisons —
    the snapshot-diff recipe applied across systems.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = o.filter(F.col("o_orderkey") % 97 != 0)
    dst = o.filter(F.col("o_orderkey") % 103 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 89 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(
            F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 0.5
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    s = src.alias("s")
    d = dst.alias("d")
    j = s.join(d, F.col("s.o_orderkey") == F.col("d.o_orderkey"), "full_outer")
    sk = F.col("s.o_orderkey")
    dk = F.col("d.o_orderkey")
    return j.agg(
        F.count(F.when(sk.isNotNull() & dk.isNotNull(), 1)).alias("n_both"),
        F.count(F.when(dk.isNull(), 1)).alias("n_only_source"),
        F.count(F.when(sk.isNull(), 1)).alias("n_only_dest"),
        F.count(
            F.when(
                sk.isNotNull()
                & dk.isNotNull()
                & (F.col("s.o_orderstatus") != F.col("d.o_orderstatus")),
                1,
            )
        ).alias("status_mismatches"),
        F.count(
            F.when(
                sk.isNotNull()
                & dk.isNotNull()
                & (F.col("s.o_totalprice") != F.col("d.o_totalprice")),
                1,
            )
        ).alias("price_mismatches"),
    )


@query(
    "sql_temp_function",
    oracle="""
    SELECT
      l_returnflag,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
           AS BIGINT)
        AS disc_sum_v10,
      CAST(COUNT(*) FILTER (
        WHERE CASE WHEN l_quantity >= 40 THEN 'bulk'
                   WHEN l_quantity >= 10 THEN 'mid'
                   ELSE 'small' END = 'bulk') AS BIGINT) AS n_bulk
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("sql", "udf", "sql-function"),
)
def sql_temp_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDFs (Spark's ``CREATE TEMPORARY FUNCTION … RETURN
    expr``): reusable business expressions defined IN SQL and inlined by
    the analyzer — the governed-semantics layer SQL-only teams use
    instead of shipping Python. Two functions: an exact centi-unit
    discounted-price (integer cents × integer discount-percent = pure
    int64 centicents, the `pricing_summary` arithmetic as a named
    function) and a quantity tier CASE. Because SQL UDFs inline at
    analysis time, the physical plan — pushdown, codegen, two-phase agg
    — is identical to writing the expressions by hand, which is exactly
    what the oracle does; the hash pins that the function indirection
    costs nothing semantically.

    Cents extraction is pure IEEE-754 double arithmetic,
    ``CAST(floor(x * 100 + 0.5) AS BIGINT)`` — multiply/add/floor are
    bit-identical on every engine and version, and no DECIMAL cast or
    ``round()`` appears anywhere in the query, so no engine's DECIMAL
    semantics can touch it. floor(x*100 + 0.5) is exact here because x is
    exact 2dp:
    the IEEE product x*100 differs from the true integer by <1e-6 ulps,
    far inside the ±0.5 basin. The oracle's outer CAST(SUM(..) AS
    BIGINT) pins DuckDB's HUGEINT sum back to int64 (values ≈2e13 «
    2^63, exact).
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_centicents"
        "(p DOUBLE, d DOUBLE)"
        " RETURNS BIGINT"
        " RETURN CAST(floor(p * 100 + 0.5) AS BIGINT)"
        "   * (100 - CAST(floor(d * 100 + 0.5) AS BIGINT))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_tier(q DOUBLE)"
        " RETURNS STRING"
        " RETURN CASE WHEN q >= 40 THEN 'bulk'"
        " WHEN q >= 10 THEN 'mid' ELSE 'small' END"
    )
    # spark.sql analyzes eagerly and inlines both functions, so they are
    # dropped once it returns: neither outlives the query.
    try:
        return spark.sql(
            """
            SELECT
              l_returnflag,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              SUM(disc_centicents(l_extendedprice, l_discount))
                AS disc_sum_v10,
              CAST(COUNT(IF(qty_tier(l_quantity) = 'bulk', 1, NULL)) AS BIGINT)
                AS n_bulk
            FROM {lineitem}
            GROUP BY l_returnflag
            ORDER BY l_returnflag
            """,
            lineitem=load_table(spark, sf_dir, "lineitem"),
        )
    finally:
        for fn in ("disc_centicents", "qty_tier"):
            spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {fn}")
