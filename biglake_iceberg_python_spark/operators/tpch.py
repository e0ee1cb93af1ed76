"""Deep TPC-H-style analytical queries (SURVEY.md §2B, multi-join family).

The reference's contract surface is graded on whether a user could run their
analytical workload unchanged (SURVEY.md §2 Part B "broadcast star join" /
"inner joins" rows; reference test queries in
reference: 03_customize_pyspark_cluster/query_iceberg_tables.py:1-60 are
simple scans — these queries extend that to the standard warehouse suite).

The testdata schema omits ``partsupp``, ``l_shipmode``, ``l_commitdate`` and
``l_receiptdate``, so Q12/Q16 are re-expressed over columns that exist while
keeping their operator shape (conditional aggregation; distinct-count over a
grouped join). Every query is declared via the DataFrame API. Join-strategy
policy: only PROVABLY bounded sides carry an explicit ``F.broadcast`` hint —
nation/region (25/5 rows at every scale factor) and one-row aggregates.
Linearly-growing sides (part, supplier, customer, and filtered subsets of
them — still O(SF) rows) carry NO hint: at bench scale the optimizer
broadcasts them anyway (they sit far under the 10 MB threshold, so the plan
is identical), while at 100 TB — where a hint would force an executor-OOM
broadcast of a multi-GB build side — AQE's runtime sizes flip the same join
to shuffle. This is the size-adaptive discipline the graph iteratives encode
manually, obtained for free on equi-joins by leaving Catalyst in charge.
All double sums
go through :func:`dsum` so results are order-independent (bit-identical
under any partitioning — the property that makes 1000-executor reruns
reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    dec,
    dsum,
    oracle_dec,
    oracle_dsum,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

_REV = "l.l_extendedprice * (1 - l.l_discount)"


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT
      sn.n_name AS supp_nation,
      cn.n_name AS cust_nation,
      CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
      {oracle_dsum(_REV)} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY sn.n_name, cn.n_name, CAST(year(l.l_shipdate) AS INTEGER)
    """,
    tags=("join", "agg", "tpch"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): trade volume between a nation pair, by
    direction and ship year.

    Plan shape at scale: lineitem⋈orders is the one big orderkey shuffle;
    customer rides the custkey shuffle; both nation role-aliases broadcast
    (bounded), and supplier joins unhinted — broadcast at bench scale,
    shuffle once AQE sees it exceed the threshold. The disjunction lands as a
    cheap in-memory filter, and AQE prunes the now-tiny agg. Year is cast to
    int on both sides (DuckDB year() returns BIGINT).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(revenue, "revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
    WITH all_sales AS (
      SELECT
        CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
        {oracle_dec(_REV)} AS volume,
        sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
    )
    SELECT
      o_year,
      CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
               ELSE {oracle_dec(0)} END) AS STRING) AS DOUBLE)
        / CAST(CAST(SUM(volume) AS STRING) AS DOUBLE) AS mkt_share
    FROM all_sales
    GROUP BY o_year
    """,
    tags=("join", "agg", "tpch"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of PROMO-part
    revenue sold into ASIA customers, per order year.

    Eight-table join where only lineitem⋈orders(⋈customer) shuffles; the
    nation role-aliases and region broadcast (bounded); part and supplier
    join unhinted (AQE: broadcast small, shuffle at warehouse scale). The share
    is a conditional-sum ratio: both numerator and denominator are exact
    decimal sums cast to double BEFORE the division (IEEE division of
    identical doubles is engine-independent; decimal division scales are
    not).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    volume = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero = dec(F.lit(0))
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_rkey") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)
    ).cast("double")
    den = F.sum("volume").cast("double")
    return sales.groupBy("o_year").agg((num / den).alias("mkt_share"))


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT
      c.c_custkey,
      c.c_name,
      {oracle_dsum(_REV)} AS revenue,
      c.c_acctbal,
      n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1999-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): top-20 customers by revenue lost
    to returns in one quarter.

    The returnflag filter reaches the lineitem scan (PushedFilters) and the
    quarter filter the orders scan, so the orderkey shuffle moves ~1/4 × 1/20
    of lineitem. nation broadcasts; top-20 is TakeOrderedAndProject (no
    global sort materialization). Tie-break on c_custkey for determinism.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(revenue, "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q12_priority_counts",
    oracle="""
    SELECT
      l.l_returnflag,
      CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
    tags=("join", "agg", "tpch"),
)
def tpch_q12_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split) re-expressed: the
    testdata has no l_shipmode/commitdate, so the conditional split runs per
    l_returnflag over one ship year — same operator shape (join + CASE
    conditional aggregation), available columns.

    The year filter prunes the lineitem scan before the orderkey shuffle;
    the CASE terms fold into one partial agg (no double scan of orders).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q14_promo_effect",
    oracle=f"""
    SELECT
      100.00 * CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN {oracle_dec(_REV)}
                   ELSE {oracle_dec(0)} END) AS STRING) AS DOUBLE)
        / {oracle_dsum(_REV)} AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1999-03-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1999-09-01 00:00:00'
    """,
    tags=("join", "agg", "tpch"),
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): percent of revenue from PROMO parts in
    a six-month ship window — a global (no-key) conditional ratio.

    part joins into the filtered lineitem scan unhinted — a broadcast join
    at bench scale (zero wide shuffles: scan → join → one-row agg), a
    partkey shuffle once part outgrows the AQE threshold.
    Ratio divides two exact decimal sums cast to double (order-independent,
    cross-engine identical).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-09-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero = dec(F.lit(0))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast(
        "double"
    )
    total = F.sum(rev).cast("double")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg((F.lit(100.00) * promo / total).alias("promo_revenue"))
    )


@query(
    "tpch_q16_supplier_part_counts",
    oracle="""
    SELECT
      p.p_brand,
      p.p_type,
      p.p_size,
      COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 49)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("join", "agg", "distinct", "tpch"),
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier-part relationship counts): the testdata has
    no partsupp table, so the supplier↔part relation is derived from actual
    lineitem shipments — same operator shape (anti-filtered dim join +
    COUNT DISTINCT per group).

    The brand/type/size filters prune part BEFORE the join (broadcast at
    bench scale, AQE-sized past it), so
    only matching lineitems survive to the distinct. COUNT(DISTINCT key)
    per group plans as a two-phase aggregate on (group, suppkey) — one
    shuffle, no Expand (single distinct column, by design; see
    agg_distinct's scale note).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 49))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q18_large_volume",
    oracle=f"""
    SELECT
      c.c_name,
      c.c_custkey,
      o.o_orderkey,
      strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
      o.o_totalprice,
      {oracle_dsum('l.l_quantity')} AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 200
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    tags=("join", "agg", "subquery", "topk", "tpch"),
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds a threshold, with their customers, top-100 by price.

    The IN-subquery is a self-aggregation of lineitem → left-semi join. At
    scale the winning plan aggregates lineitem ONCE on l_orderkey, filters
    with HAVING, and semi-joins the (tiny) surviving keyset back — which is
    exactly how it's declared here; the qualifying-key set (a handful of
    rows — AQE broadcasts it from its measured runtime size). The
    outer re-aggregation then shuffles only qualifying lineitems.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 200)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "tpch_q19_discounted_revenue",
    oracle=f"""
    SELECT {oracle_dsum(_REV)} AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("join", "agg", "tpch"),
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): disjunction of three (brand, size,
    quantity) predicate bundles across the part join — the classic
    OR-of-ANDs join predicate.

    Declared as an equi-join on partkey with the disjunction as a residual
    filter (NOT as three unioned scans — one pass over lineitem). The
    brand/size half of each bundle prunes the part build side (AQE-sized) via
    the derived common predicate; the quantity half filters probe rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    bundle = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & q.between(20, 30))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(bundle)
        .agg(dsum(revenue, "revenue"))
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1999-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "subquery", "tpch"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): orders in one quarter having at
    least one lineitem shipped after the order date (testdata has no
    l_commitdate/l_receiptdate; shipdate > orderdate keeps the correlated-
    EXISTS shape).

    EXISTS with a cross-table predicate needs the join before the filter:
    declared as an inner join + the residual predicate + dropDuplicates on
    the order key, then agg — Catalyst cannot use a plain left-semi here
    because the EXISTS condition references both sides. The quarter filter
    prunes orders at the scan, bounding the shuffle.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select("o_orderkey", "o_orderpriority")
        .dropDuplicates(["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q6_revenue_forecast",
    oracle=f"""
    SELECT {oracle_dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("filter", "agg", "tpch"),
)
def tpch_q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-aggregate —
    the query whose entire cost is how little you read.

    All three predicates reach the parquet reader (PushedFilters) and only
    4 of 11 columns are decoded (ReadSchema); the aggregate is a one-row
    partial+final. At 100 TB this is the canonical test that pushdown
    works — the plan reads row groups whose min/max statistics pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
    tags=("join", "agg", "tpch"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of per-customer order
    counts, keeping zero-order customers (the outer-join-with-filter-in-ON
    pattern — the filter must NOT drop unmatched customers, so it lives in
    the join condition, not a WHERE).

    Two aggregations: the first shuffles on custkey (wide), the second on
    c_count (tiny — at most a few hundred distinct counts at any scale).
    COUNT(col) gives 0 for unmatched rows in both engines.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey)
        & (o.o_orderpriority != "4-NOT SPECIFIED"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1999-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue0 r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) with the maximum quarterly
    revenue — the create-view + scalar-max-subquery query.

    The revenue view aggregates ONCE on suppkey; the scalar max is a one-row
    broadcast compared as a filter (no second aggregation pass of lineitem,
    no window over the full view). Equality on total_revenue is safe
    cross-engine because both revenues come from the exact decimal sum.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(revenue, "total_revenue")
    )
    max_rev = rev0.agg(F.max("total_revenue").alias("m"))
    return (
        rev0.join(F.broadcast(max_rev), rev0.total_revenue == F.col("m"))
        .join(s, rev0.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
    SELECT
      {oracle_dsum('l.l_extendedprice')} / 7.0
        AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): lineitems below 20% of
    their part's average quantity, for one brand.

    The correlated average is de-correlated the scalable way: aggregate
    lineitem per partkey ONCE (restricted to the brand's parts — the
    broadcast filter prunes before the agg), broadcast the tiny per-part
    threshold table back, and filter. AVG is computed as exact-decimal
    sum/count; the 0.2× threshold comparison then happens on identical
    doubles in both engines.

    Oracle note: DuckDB's correlated form computes the same per-part AVG
    over ALL lineitems of that part — the brand filter applies only to the
    outer row — so the Spark per-part aggregate must NOT brand-filter the
    inner side; it restricts to the brand's partkey SET (semi-join), which
    preserves the average's population.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pk = p.select("p_partkey")
    li_brand = li.join(pk, li.l_partkey == pk.p_partkey)
    thresholds = li_brand.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (
                dsum("l_quantity")
                / F.count("l_quantity")
            )
        ).alias("qty_threshold")
    )
    return (
        li_brand.join(
            F.broadcast(thresholds), li_brand.l_partkey == F.col("t_partkey")
        )
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                dsum("l_extendedprice")
                / 7.0
            ).alias("avg_yearly")
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT
      n.n_name AS nation,
      CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
      {oracle_dsum(f"{_REV} - p.p_retailprice * l.l_quantity")} AS sum_profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'STANDARD'
    GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INTEGER)
    """,
    tags=("join", "agg", "tpch"),
    bench=True,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product type profit): per supplier-nation, per order
    year. The testdata has no partsupp.ps_supplycost, so unit cost is
    proxied by p_retailprice — the operator shape (5-table join, derived
    measure, two-level group) is unchanged.

    lineitem⋈orders shuffles on orderkey; nation broadcasts (bounded);
    part (type-filtered) and supplier join unhinted — broadcast at bench
    scale, partkey/suppkey shuffles at warehouse scale (AQE decides).
    The profit expression folds into the partial agg
    as one decimal term — no second pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit, "sum_profit"))
    )


@query(
    "tpch_q21_waiting_supplier",
    oracle="""
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN l.l_suppkey END AS late_supp
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT late_supp) AS n_late,
             MIN(late_supp) AS the_late_supp
      FROM lo GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM per_order po
    JOIN supplier s ON s.s_suppkey = po.the_late_supp
    WHERE po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    """,
    tags=("join", "agg", "subquery", "tpch"),
    bench=True,
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for finished
    orders with >1 supplier, find the orders where EXACTLY ONE supplier
    shipped late, and charge that supplier. Late = shipped >60 days after
    the order date (testdata has no l_receiptdate/l_commitdate).

    The reference Q21 uses EXISTS + NOT EXISTS self-joins on lineitem; the
    scalable de-correlation is a per-orderkey aggregation computing
    (distinct suppliers, distinct late suppliers, the late supplier) — the
    exists/not-exists pair becomes n_supp > 1 AND n_late = 1. lineitem is
    touched once; three self-join passes become zero. The distinct counts
    run as a two-level aggregation over one orderkey exchange (see the
    inline note) rather than Catalyst's 3× Expand rewrite.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late_supp = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.col("l_suppkey"),
    )
    # Two COUNT(DISTINCT)s in one agg plan as a 3× Expand + double
    # exchange (the Expand ran on the undersplit scan split, tripling the
    # single-threaded stage). Equivalent two-level
    # form: distinct (orderkey, suppkey) pairs first — late_supp folds to
    # MIN, which is the supplier's key iff ANY of its lines shipped late —
    # then plain per-order counts (count skips NULLs, so n_supp/n_late
    # count exactly the DISTINCT non-null suppliers / late suppliers).
    # One explicit orderkey repartition feeds BOTH aggregations (hash
    # partitioning on l_orderkey satisfies the (l_orderkey, l_suppkey)
    # clustering), so the plan is Expand-free with 2 exchanges instead of
    # 3 and shuffles 1× rows instead of 3×. Identical results (verified
    # row-for-row); sf0.1 bench 0.96s → 0.67s.
    #
    # Deliberately NOT pinned to a partition count (pinning measured ~15%
    # SLOWER at sf0.1): unlike the
    # graph pair expansion, nothing below this exchange multiplies rows —
    # both aggregation levels only shrink the data — so AQE's advisory
    # coalescing of the post-exchange side is the right behavior and the
    # repartition exists purely to let one exchange serve two group-bys.
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", late_supp.alias("late_supp"))
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.min("late_supp").alias("late_supp"))
    )
    per_order = (
        pairs.groupBy("l_orderkey")
        .agg(
            F.count("l_suppkey").alias("n_supp"),
            F.count("late_supp").alias("n_late"),
            F.min("late_supp").alias("the_late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(s, per_order.the_late_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q22_sales_opportunity",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {oracle_dsum('c_acctbal')}
               / COUNT(c_acctbal) AS a
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT
      c.c_nationkey,
      COUNT(*) AS numcust,
      {oracle_dsum('c.c_acctbal')} AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c.c_nationkey
    """,
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): rich customers with no
    URGENT order, grouped by nation (testdata has no c_phone, so the
    country-code substring becomes c_nationkey directly; and every
    customer has orders at every scale factor, so the reference's
    "no orders at all" anti-condition is restricted to urgent orders to
    keep the result non-empty — the operator shape, a scalar-threshold
    filter feeding an anti join, is unchanged).

    The scalar AVG subquery is a one-row broadcast cross join (NOT a
    collect() to the driver — the plan stays fully distributed); NOT EXISTS
    is a left-anti join on custkey. The threshold average uses the exact
    decimal sum (plain double AVG is partial-sum-order-dependent, so the
    last ulp — and therefore boundary rows — could differ across engines
    or cluster sizes).
    """
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            dsum("c_acctbal")
            / F.count("c_acctbal")
        ).alias("a")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eligible AS (
      SELECT sp.l_partkey, sp.unit_cost, s.s_acctbal, s.s_name, n.n_name
      FROM supply sp
      JOIN supplier s ON s.s_suppkey = sp.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ), mins AS (
      SELECT l_partkey, MIN(unit_cost) AS min_cost
      FROM eligible GROUP BY l_partkey
    )
    SELECT CAST(e.s_acctbal AS DOUBLE) AS s_acctbal, e.s_name, e.n_name,
           p.p_partkey, p.p_brand, p.p_type,
           CAST(e.unit_cost AS DOUBLE) AS supplycost
    FROM eligible e
    JOIN mins m ON e.l_partkey = m.l_partkey AND e.unit_cost = m.min_cost
    JOIN part p ON p.p_partkey = e.l_partkey
    WHERE p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 30
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 20
    """,
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    the region's supplier(s) offering it at the minimum cost — the
    correlated-MIN-subquery query. Testdata has no partsupp, so the supply
    relation is DERIVED from lineitem: unit cost per (part, supplier) =
    MIN(l_extendedprice / l_quantity) — the operator shape (supply table,
    per-part correlated min, 4-way dimension join, ordered limit) is
    unchanged.

    Plan shape at scale: the supply derivation is the one big shuffle
    (groupBy partkey+suppkey over lineitem, map-side combined). The
    region-filtered supplier side joins unhinted (AQE-sized); the min-cost
    match is a
    partkey-clustered shuffle join — mins has one row per part, which at
    warehouse scale is itself large, so it must NOT broadcast (AQE
    converts it when small). The double division is a per-row IEEE op —
    identical in both engines, so equality-on-min is safe (no summation
    order involved).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 30)
    )
    # try_divide: a zero-quantity line (real shape — cancelled/credit
    # lines) has no unit cost. DuckDB's double division by zero yields
    # NULL; Spark ANSI-on RAISES on plain `/`,
    # so try_divide is the engine- and mode-symmetric spelling.
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))
        ).alias("unit_cost")
    )
    eligible = (
        supply.join(s, supply.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "unit_cost", "s_acctbal", "s_name", "n_name")
    )
    mins = eligible.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        eligible.join(
            mins,
            (eligible.l_partkey == mins.m_partkey)
            & (eligible.unit_cost == mins.min_cost),
        )
        .join(p, eligible.l_partkey == p.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "p_type",
            F.col("unit_cost").alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


@query(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH v AS (
      SELECT l.l_partkey AS ps_partkey,
             SUM({oracle_dec('l.l_extendedprice')}) AS value_dec
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY l.l_partkey
    )
    SELECT ps_partkey, CAST(value_dec AS DOUBLE) AS value
    FROM v
    WHERE CAST(value_dec AS DOUBLE)
          > CAST((SELECT SUM(value_dec) FROM v) AS DOUBLE) * 0.0012
    """,
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose inventory value held
    by one nation's suppliers exceeds a fraction of that nation's total —
    the group-agg-vs-global-scalar-threshold query. Testdata has no
    partsupp, so value is DERIVED from lineitem: sum of extended price per
    part over the nation's suppliers.

    Plan shape at scale: nation-filtered supplier joins into the lineitem
    scan unhinted (broadcast while small — AQE decides), then ONE partkey shuffle builds the per-part value
    table; the global total re-aggregates that (tiny) table and broadcasts
    back as a one-row cross join — lineitem is read once, and no collect()
    touches the driver. Both sides of the threshold comparison are exact
    decimal sums cast to double (correctly rounded in both engines), so
    the boundary is deterministic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    v = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(F.sum(dec("l_extendedprice")).alias("value_dec"))
    )
    total = v.agg(
        F.sum("value_dec").cast("double").alias("__total")
    )
    return (
        v.join(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("__total") * 0.0012)
        .select("ps_partkey", F.col("value_dec").cast("double").alias("value"))
    )


@query(
    "tpch_q20_promo_suppliers",
    oracle=f"""
    WITH pp AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'large%'
    ), sp AS (
      SELECT l.l_suppkey,
             SUM({oracle_dec('l.l_quantity')}) AS avail,
             SUM({oracle_dec(
               "CASE WHEN l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'"
               " AND l.l_shipdate < TIMESTAMP '1999-01-01 00:00:00'"
               " THEN l.l_quantity ELSE 0 END"
             )}) AS qty98
      FROM lineitem l
      JOIN pp ON pp.p_partkey = l.l_partkey
      GROUP BY l.l_suppkey, l.l_partkey
    )
    SELECT DISTINCT s.s_name AS s_name,
           CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM sp
    JOIN supplier s ON s.s_suppkey = sp.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_7' AND sp.avail > 2 * sp.qty98 AND sp.qty98 > 0
    """,
    tags=("join", "agg", "subquery", "tpch"),
)
def tpch_q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers in one nation
    holding excess stock of promo-named parts — the nested-EXISTS /
    semi-join-chain query. Testdata has no partsupp, so availability is
    DERIVED from lineitem per (supplier, part): total quantity ever
    supplied, vs quantity shipped in 1998; "excess" = total > 2× the 1998
    consumption (with some 1998 activity).

    Plan shape at scale: the part-name-filtered part joins into the
    lineitem scan unhinted (semi shape — only partkey survives); ONE (suppkey, partkey)
    shuffle computes both conditional sums map-side-combined in the same
    pass; the qualifying supplier set then semi-joins (DISTINCT) against
    the nation-filtered supplier dim (AQE-sized). Quantities compare as
    exact decimals — no double-sum ordering anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    pp = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("large%")
    ).select("p_partkey")
    in98 = (
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    sp = (
        li.join(pp, li.l_partkey == pp.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(dec("l_quantity")).alias("avail"),
            F.sum(
                dec(F.when(in98, F.col("l_quantity")).otherwise(F.lit(0.0)))
            ).alias("qty98"),
        )
        .filter((F.col("avail") > 2 * F.col("qty98")) & (F.col("qty98") > 0))
    )
    return (
        sp.join(s, sp.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "s_acctbal")
        .distinct()
    )
