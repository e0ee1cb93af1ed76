"""Join family: inner/outer/semi/anti/broadcast/theta/as-of (SURVEY.md §2B).

The reference contains no joins (SURVEY.md §2 Part A, exhaustive) — this is
contract-mandated surface. All joins are declared via the DataFrame API so
Catalyst picks the physical strategy; broadcast hints are applied exactly
where a dimension stays small at every scale factor.

Scale notes per operator are in the docstrings. Common rules applied here:
  * region/nation are O(10-100) rows at ANY scale factor → always broadcast.
  * supplier/part/customer grow with sf → broadcast only when the filtered
    side is provably small, else let sort-merge + AQE decide.
  * theta joins (non-equi) are BroadcastNestedLoop — only valid with a
    bounded broadcast side; the query keeps that side a filtered aggregate.
  * the as-of join avoids any join at all: it is a per-key ordered window
    (single shuffle on user_id), the scalable plan for "nearest earlier
    event" — no range-join explosion.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    cents,
    dsum,
    oracle_cents,
    oracle_dsum,
    oracle_epoch_s,
    spark_epoch_s,
)
from biglake_iceberg_python_spark.plans.registry import query, scratch
from biglake_iceberg_python_spark.session import session_conf
from biglake_iceberg_python_spark.sources.tables import load_table


@query(
    "join_inner",
    oracle=f"""
    SELECT
      c.c_mktsegment,
      COUNT(*) AS order_cnt,
      {oracle_dsum('o.o_totalprice')} AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("join",),
    bench=True,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders⋈customer + hash agg by market segment.

    Shuffle on c_custkey/o_custkey only if neither side broadcasts; at
    sf<=0.1 customer fits the 10 MB broadcast threshold so Catalyst emits a
    BroadcastHashJoin. At 100 TB both sides shuffle — AQE coalesces.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            dsum("o_totalprice", "total_revenue"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT
      c.c_custkey,
      c.c_name,
      COUNT(o.o_orderkey) AS order_cnt,
      COALESCE(MAX(o.o_totalprice), 0.0) AS max_order_price
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders.

    COUNT(col) (not COUNT(*)) so unmatched customers count 0 — same
    null-skipping semantics in both engines. MAX of a double is
    order-independent, so no decimal detour is needed.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            F.coalesce(F.max("o_totalprice"), F.lit(0.0)).alias("max_order_price"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cn AS (
      SELECT c_nationkey AS nkey, COUNT(*) AS cust_cnt FROM customer GROUP BY c_nationkey
    ), sn AS (
      SELECT s_nationkey AS nkey, COUNT(*) AS supp_cnt FROM supplier GROUP BY s_nationkey
    )
    SELECT
      COALESCE(cn.nkey, sn.nkey) AS nationkey,
      COALESCE(cn.cust_cnt, 0) AS cust_cnt,
      COALESCE(sn.supp_cnt, 0) AS supp_cnt
    FROM cn
    FULL OUTER JOIN sn ON cn.nkey = sn.nkey
    """,
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (customers vs suppliers
    per nation). Aggregating BEFORE the join shrinks both sides to <=25 rows
    — the scale-correct shape for reconciliation joins (never full-outer two
    fact tables directly)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("nkey")).agg(
        F.count(F.lit(1)).alias("cust_cnt")
    )
    sn = s.groupBy(F.col("s_nationkey").alias("nkey")).agg(
        F.count(F.lit(1)).alias("supp_cnt")
    )
    return cn.join(sn, cn.nkey == sn.nkey, "full").select(
        F.coalesce(cn.nkey, sn.nkey).alias("nationkey"),
        F.coalesce("cust_cnt", F.lit(0)).alias("cust_cnt"),
        F.coalesce("supp_cnt", F.lit(0)).alias("supp_cnt"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS cust_with_urgent
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY c.c_mktsegment
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having >=1 urgent order (EXISTS semantics —
    no row duplication from multiple matches). The priority filter is pushed
    below the join so the build side shrinks before shuffling."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cust_with_urgent"))
    )


@query(
    "join_anti",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS cust_without_high
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '2-HIGH'
    )
    GROUP BY c.c_mktsegment
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no HIGH-priority order (NOT EXISTS
    against a filtered build side).

    The build side is filtered BEFORE the anti join so the state the probe
    checks against is priority-specific. (The unfiltered "customers with
    no orders" variant is vacuous on this testdata — every customer has
    orders at every scale factor, and a 0-row result makes the oracle hash
    trivially match.)
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "2-HIGH"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cust_without_high"))
    )


@query(
    "join_broadcast_star",
    oracle=f"""
    SELECT
      n.n_name,
      {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
      COUNT(*) AS line_cnt
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
    tags=("join", "broadcast"),
    bench=True,
)
def join_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style star join with explicit broadcast of every dimension.

    lineitem (the fact) never shuffles for the joins: supplier, nation and
    region are broadcast, so the only shuffle is the final 25-group agg.
    This is the canonical 100 TB plan — fact-table-stays-put; at real scale
    supplier may exceed the broadcast threshold, at which point dropping the
    hint lets AQE decide, but region/nation broadcasts are always right.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(revenue, "revenue"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
    )


@query(
    "join_dynamic_partition_pruning",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
    GROUP BY o_orderpriority
    """,
    tags=("join", "dpp", "partitioning", "prune"),
)
@scratch
def join_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Dynamic Partition Pruning: the fact side is partitioned on the join
    key, the dimension side carries the selective filter — Spark evaluates
    the dim filter at RUNTIME, broadcasts the surviving keys, and prunes
    the fact's partitions before scanning them (SubqueryBroadcast →
    dynamicpruningexpression in the fact scan's PartitionFilters;
    plan-tested).

    This is the mechanism that saves star-schema scans at 100 TB when the
    partition predicate is not a literal in the query text but the OUTCOME
    of a dimension filter: static pruning can't see it, DPP prunes exactly
    the partitions the dim join could match. The expedited-priority dim
    here is derived from the table's own distinct partition values (5
    rows) and filtered to the two expedited classes; the oracle flattens
    the whole construction to a plain literal filter, which is what DPP
    must be result-equivalent to.
    """
    o = load_table(spark, sf_dir, "orders")
    path = os.path.join(root, "orders_by_prio")
    o.write.partitionBy("o_orderpriority").parquet(path)
    # Schema pinned from the written frame — file inference fails on
    # a 0-row write.
    fact = spark.read.schema(o.schema).parquet(path)
    dim = (
        spark.read.schema(o.schema).parquet(path)
        .select(F.col("o_orderpriority").alias("prio"))
        .distinct()
        .filter(
            F.col("prio").startswith("1-") | F.col("prio").startswith("2-")
        )
    )
    return (
        fact.join(dim, fact.o_orderpriority == dim.prio)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


_BLOOM_CONFS = {
    # The injection rule only fires in the big-shuffle-join regime: the
    # creation side must sit under creationSideThreshold and the
    # application side must be a scan bigger than the scan-size threshold,
    # with no broadcast join available. sf0.01-0.1 inputs are far below the
    # production defaults, so the thresholds are pinned to put this join in
    # exactly the regime a 100 TB fact⋈filtered-dim shuffle join occupies
    # naturally (where these stay at their defaults).
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _with_bloom_confs(spark: SparkSession, build):
    """Run ``build()`` with the bloom-join conf regime, materialize its
    result eagerly (plans resolve confs at ACTION time, so the confs must
    still be set when the job runs), then restore every conf."""
    with session_conf(spark, _BLOOM_CONFS):
        return build().localCheckpoint(eager=True)


@query(
    "join_runtime_bloom_filter",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "bloom", "runtime-filter"),
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join reduction — DPP's companion for
    NON-partitioned shuffle joins: Spark builds a bloom_filter_agg over
    the filtered orders side's join keys at runtime and injects a
    might_contain pre-filter on the lineitem side, so most non-matching
    fact rows are dropped BEFORE the join shuffle instead of after it.

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling ~the matching fraction: the dim filter's
    selectivity propagates to the fact scan with no partitioning
    precondition (where DPP needs the join key to BE the partition key).
    Plan shape (bloom_filter_agg + might_contain) is asserted in
    tests/test_plans.py; the oracle is the plain join, which the filter
    must be result-invisible to.
    """
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                dsum(revenue, "revenue"),
            )
        )

    return _with_bloom_confs(spark, build)


@query(
    "join_theta_range",
    oracle="""
    SELECT
      s.s_suppkey,
      s.s_name,
      COUNT(c.c_custkey) AS richer_than_cust_cnt
    FROM supplier s
    LEFT JOIN customer c ON s.s_acctbal > c.c_acctbal AND c.c_acctbal > 9000
    GROUP BY s.s_suppkey, s.s_name
    """,
    tags=("join", "theta"),
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join: for each supplier, how many high-balance
    customers it out-balances.

    Non-equi predicates force a nested-loop strategy; the scalable shape is
    (a) filter the probe side hard first (c_acctbal > 9000 here) and (b)
    broadcast the SMALL side so the big side streams. For truly large both
    sides, the production pattern is band-bucketing (join on a coarse bucket
    equi-key + residual predicate) — demonstrated in dedup.py's LSH join.
    """
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return (
        s.join(F.broadcast(c), s.s_acctbal > c.c_acctbal, "left")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("c_custkey").alias("richer_than_cust_cnt"))
    )


@query(
    "join_asof",
    oracle="""
    WITH w AS (
      SELECT
        user_id,
        event_type,
        ts,
        last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_type NULLS LAST
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase_ts
      FROM events WHERE ts IS NOT NULL
    )
    SELECT
      user_id,
      COUNT(*) AS n_events,
      COUNT(prev_purchase_ts) AS n_with_prior_purchase,
      MAX(date_diff('second', date_trunc('second', prev_purchase_ts),
                    date_trunc('second', ts))) AS max_gap_s
    FROM w
    GROUP BY user_id
    """,
    tags=("join", "asof"),
    bench=True,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (nearest earlier match) without a join: for every event,
    the most recent STRICTLY PRIOR 'purchase' by the same user.

    Spark has no ASOF JOIN; a range join would explode. The scalable
    re-expression is a single shuffle on user_id + an ordered window with
    last(..., ignorenulls) over ROWS UNBOUNDED PRECEDING..1 PRECEDING —
    O(n log n) per key, no pair blowup, identical semantics to DuckDB's
    ASOF JOIN against the filtered purchase stream (oracle uses the same
    window form since it is plain ANSI SQL).

    Gap is computed on epoch seconds (floor) so Spark's µs timestamps and
    DuckDB's ns timestamps agree. Both windows (and the oracle's) order by
    (ts, event_type) so same-instant rows have one canonical order on both
    engines — determinism does not ride on per-user ts uniqueness.

    BOTH sides date_trunc each operand before differencing: DuckDB's raw
    date_diff truncates a negative-epoch operand toward ZERO (probed:
    date_diff('second', 23:59:59.3, +1.0s) = 1) while Spark's trunc-then-diff
    floors (= 2) — raw-vs-trunc was off by one whenever the earlier operand
    predates 1970 with a sub-second fraction. The trunc'd floor form is
    identical on both engines for any epoch sign.
    """
    e = load_table(spark, sf_dir, "events").filter(
        # Dead-letter NULL event-times: a timestamp-less row is unordered in the as-of
        # window — Spark sorts NULLS FIRST, DuckDB NULLS LAST, so
        # prior-match existence flips by engine; both sides drop.
        F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    # boundary-crossing count (floor each, then diff) to match DuckDB
    # date_diff semantics; plain timestampdiff truncates the elapsed
    # interval instead and is off by one when prev has a later sub-second.
    gap = F.expr(
        "timestampdiff(SECOND, date_trunc('second', prev_purchase_ts),"
        " date_trunc('second', ts))"
    )
    return (
        e.withColumn("prev_purchase_ts", prev)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("prev_purchase_ts").alias("n_with_prior_purchase"),
            F.max(gap).alias("max_gap_s"),
        )
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH w AS (
      SELECT
        user_id,
        ts,
        last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_type NULLS LAST
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS prev_purchase_ts
      FROM events WHERE ts IS NOT NULL
    ), g AS (
      SELECT user_id,
             date_diff('second', date_trunc('second', prev_purchase_ts),
                       date_trunc('second', ts)) AS gap_s
      FROM w
    )
    SELECT
      user_id,
      COUNT(*) AS n_events,
      CAST(COUNT(CASE WHEN gap_s <= 21600 THEN 1 END) AS BIGINT) AS n_fresh,
      CAST(COUNT(CASE WHEN gap_s > 21600 THEN 1 END) AS BIGINT) AS n_stale
    FROM g
    GROUP BY user_id
    """,
    tags=("join", "asof", "tolerance"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH A STALENESS TOLERANCE (pandas merge_asof's
    `tolerance=`): a prior purchase only counts as a match if it happened
    within the last 6 hours — older matches are classified stale, the
    attribution-window semantics ad/conversion pipelines need.

    Same single-shuffle window re-expression as join_asof (no pair
    blowup); the tolerance is a pure map-side classification of the
    already-found nearest-earlier match, so it adds ZERO plan cost — which
    is the argument for the window form over a range join at 100 TB,
    where a tolerance predicate inside a join condition would re-shape
    the whole plan. Both windows (and the oracle's) order by
    (ts, event_type) so same-instant rows have one canonical order on
    both engines.
    """
    e = load_table(spark, sf_dir, "events").filter(
        # Dead-letter NULL event-times: a timestamp-less row is unordered in the as-of
        # window — Spark sorts NULLS FIRST, DuckDB NULLS LAST, so
        # prior-match existence flips by engine; both sides drop.
        F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    gap = F.expr(
        "timestampdiff(SECOND, date_trunc('second', prev_purchase_ts),"
        " date_trunc('second', ts))"
    )
    return (
        e.withColumn("prev_purchase_ts", prev)
        .withColumn("gap_s", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("gap_s") <= 21600, 1)).alias("n_fresh"),
            F.count(F.when(F.col("gap_s") > 21600, 1)).alias("n_stale"),
        )
    )


@query(
    "join_shipping_priority",
    oracle=f"""
    SELECT
      l.l_orderkey,
      {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
      strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
      o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join, filtered on both fact and dims, grouped,
    global top-10 by revenue.

    customer(filtered) joins unhinted — a broadcast at bench scale, a
    custkey shuffle once AQE sees it exceed the threshold (it is O(SF)
    rows); orders⋈lineitem shuffles on orderkey (the unavoidable one); TakeOrderedAndProject gives top-k
    without a global sort. Dates surface as strings so both engines agree.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "join_q5_local_supplier",
    oracle=f"""
    SELECT
      n.n_name,
      {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("join", "agg", "tpch"),
    bench=True,
)
def join_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): six-table join with the
    customer-nation = supplier-nation locality condition.

    Join order matters at scale: lineitem⋈orders shuffles on orderkey (the
    one unavoidable big shuffle); customer joins on custkey; nation/region
    broadcast (bounded); supplier joins unhinted — broadcast while it fits
    the AQE threshold, suppkey shuffle past it. The locality predicate c_nationkey =
    s_nationkey is applied as a post-join filter the optimizer can push
    between the joins.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"))
    )


@query(
    "join_range_bucketed",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, {oracle_epoch_s()} AS es
      FROM events WHERE event_type = 'error'
    ), p AS (
      SELECT user_id, {oracle_epoch_s()} AS es
      FROM events WHERE event_type = 'purchase'
    )
    SELECT
      e.user_id,
      COUNT(*) AS n_pairs,
      COUNT(DISTINCT e.event_id) AS n_errors_with_nearby
    FROM e JOIN p ON e.user_id = p.user_id AND abs(e.es - p.es) <= 300
    GROUP BY e.user_id
    """,
    tags=("join", "range", "bucketed"),
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (interval overlap) the scalable way: purchases within
    ±5 min of each error by the same user.

    A naive range join is a per-user cross product. The 100 TB shape is
    band bucketing: bucket time into windows ≥ the band width (10 min ≥
    2×5 min), key purchases by their single bucket, explode each error to
    the ≤2 buckets its band can touch, EQUI-join on (user_id, bucket), then
    apply the exact |Δt| ≤ 300 s residual. Candidate volume is O(events in
    adjacent buckets), never O(n²); the join is an ordinary shuffled hash
    join AQE can also skew-split. Each (error, purchase) pair meets exactly
    once because a purchase lives in exactly one bucket.
    """
    ev = load_table(spark, sf_dir, "events")
    es = F.expr(spark_epoch_s())
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", es.alias("es_e")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", es.alias("es_p")
    ).withColumn("bucket", F.expr("es_p div 600"))
    e_exploded = e.select(
        "user_id",
        "event_id",
        "es_e",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr("(es_e - 300) div 600"), F.expr("(es_e + 300) div 600")
                )
            )
        ).alias("bucket"),
    )
    return (
        e_exploded.join(p, ["user_id", "bucket"])
        .filter(F.abs(F.col("es_e") - F.col("es_p")) <= 300)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("event_id").alias("n_errors_with_nearby"),
        )
    )


_SALT_N = 8


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT
      s.s_name,
      COUNT(*) AS line_cnt,
      {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
    tags=("join", "skew", "salt"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof shuffled join via salting: fact keys get a deterministic
    salt in [0, {_SALT_N}), the dim side is replicated ×{_SALT_N}, and the
    join runs on (key, salt) — a hot supplier's rows now spread over
    {_SALT_N} reducers instead of one.

    Results are provably identical to the plain join (oracle IS the plain
    join). When to use: a shuffled fact⋈dim where key frequency is heavy-
    tailed and the dim side is too big to broadcast (broadcast makes skew
    moot — see join_broadcast_star) and AQE's skew-split (on by default in
    this engine's sessions) can't help because one KEY, not one partition,
    is hot. Salt factor sizes to hottest-key-rows / target-partition-rows.
    The dim replication is a flatmap of a {_SALT_N}-element array — cheap
    when dim ≪ fact, the only regime where salting applies.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    salted_fact = li.withColumn(
        "_salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(_SALT_N))
    )
    replicated_dim = s.select(
        "s_suppkey",
        "s_name",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT_N - 1))).alias("_salt"),
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        salted_fact.join(
            replicated_dim,
            (salted_fact.l_suppkey == replicated_dim.s_suppkey)
            & (salted_fact._salt == replicated_dim._salt),
        )
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            dsum(revenue, "revenue"),
        )
    )


@query(
    "join_fuzzy_levenshtein",
    oracle="""
    SELECT
      a.p_partkey AS part_a,
      b.p_partkey AS part_b,
      a.p_name AS name_a,
      b.p_name AS name_b,
      CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    tags=("join", "fuzzy", "entity-resolution"),
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (entity resolution): candidate part pairs
    inside a (brand, size) block whose names are within Levenshtein
    distance 3.

    Edit distance can't be indexed, so the scale move is BLOCKING: the
    equi-join on (p_brand, p_size) hash-co-locates each block, and the
    quadratic distance evaluation runs only within blocks — candidate
    pairs shrink from O(n²) to Σ block², the standard record-linkage
    shape. ``levenshtein`` evaluates JVM-side inside the join's generated
    code (no UDF); the key inequality halves the pair space and makes
    output canonical.
    """
    p = load_table(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        "p_size",
    )
    b = p.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        "p_brand",
        "p_size",
    )
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("part_a") < F.col("part_b"))
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("edit_dist") <= 3)
        .select("part_a", "part_b", "name_a", "name_b", "edit_dist")
    )


@query(
    "join_hint_strategies",
    oracle=f"""
    SELECT
      n.n_name,
      COUNT(*) AS n_suppliers,
      {oracle_dsum("s.s_acctbal")} AS sum_acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("join", "hints"),
)
def join_hint_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join strategy HINTS: the same supplier⋈nation join planned three
    ways — SHUFFLE_HASH (build a hash table per partition), MERGE (sort-
    merge), and BROADCAST — with identical results by construction; the
    plan test asserts each hint actually flipped the physical operator.
    Hints are the manual override when statistics mislead the optimizer
    (fresh tables without ANALYZE, remote sources with unknown sizes) —
    at 100 TB forcing MERGE on a join AQE wants to broadcast, or
    SHUFFLE_HASH when one side is modest but over the broadcast
    threshold, is a standard tuning lever.

    The returned result uses the SHUFFLE_HASH variant (the one Catalyst
    would not pick by itself here — both inputs are broadcast-sized, so
    honoring the hint proves hints outrank size-based selection).
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    joined = s.hint("SHUFFLE_HASH").join(
        n, s["s_nationkey"] == n["n_nationkey"]
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        dsum("s_acctbal", "sum_acctbal"),
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH w AS (
      SELECT
        user_id,
        event_type,
        ts,
        first_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_type NULLS LAST
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
          AS next_error_ts
      FROM events WHERE ts IS NOT NULL
    )
    SELECT
      user_id,
      CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
        AS n_purchases,
      CAST(COUNT(CASE WHEN event_type = 'purchase'
                      THEN next_error_ts END) AS BIGINT)
        AS n_with_next_error,
      MAX(CASE WHEN event_type = 'purchase'
               THEN date_diff('second', date_trunc('second', ts),
                              date_trunc('second', next_error_ts)) END)
        AS max_lead_s
    FROM w
    GROUP BY user_id
    """,
    tags=("join", "asof", "forward"),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (nearest later match): for every purchase, the
    next strictly-subsequent error by the same user — the attribution
    direction (did this action precede a failure?), mirror of join_asof's
    backward lookup. Same scalable re-expression: one shuffle on user_id
    + an ordered window, here first(..., ignorenulls) over
    1 FOLLOWING..UNBOUNDED FOLLOWING — no range join, no pair explosion,
    and the SAME exchange serves the window and the final rollup.

    Gap computed on second-truncated timestamps so both engines count
    boundary crossings identically. Both windows (and the oracle's) order
    by (ts, event_type) so same-instant rows have one canonical order on
    both engines.
    """
    e = load_table(spark, sf_dir, "events").filter(
        # Dead-letter NULL event-times: a timestamp-less row is unordered in the as-of
        # window — Spark sorts NULLS FIRST, DuckDB NULLS LAST, so
        # prior-match existence flips by engine; both sides drop.
        F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type").asc_nulls_last())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.first(
        F.when(F.col("event_type") == "error", F.col("ts")), ignorenulls=True
    ).over(w)
    lead = F.expr(
        "timestampdiff(SECOND, date_trunc('second', ts),"
        " date_trunc('second', next_error_ts))"
    )
    is_p = F.col("event_type") == "purchase"
    return (
        e.withColumn("next_error_ts", nxt)
        .groupBy("user_id")
        .agg(
            F.count(F.when(is_p, 1)).alias("n_purchases"),
            F.count(F.when(is_p, F.col("next_error_ts"))).alias(
                "n_with_next_error"
            ),
            F.max(F.when(is_p, lead)).alias("max_lead_s"),
        )
    )


# Point-in-time SCD2 join: the change date splitting dimension history.
_PIT_CHANGE_DATE = "1998-01-01 00:00:00"


@query(
    "join_point_in_time_scd2",
    oracle=f"""
    WITH dim AS (
      -- version 1: original segment, valid until the change date (or
      -- forever for unchanged customers)
      SELECT c_custkey, c_mktsegment AS segment,
             TIMESTAMP '1970-01-01 00:00:00' AS valid_from,
             CASE WHEN c_custkey % 3 = 0
                  THEN TIMESTAMP '{_PIT_CHANGE_DATE}'
                  ELSE TIMESTAMP '9999-12-31 00:00:00' END AS valid_to
      FROM customer
      UNION ALL
      -- version 2: changed customers get a MOVED- segment from the change
      -- date onward
      SELECT c_custkey, 'MOVED-' || c_mktsegment,
             TIMESTAMP '{_PIT_CHANGE_DATE}',
             TIMESTAMP '9999-12-31 00:00:00'
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT
      d.segment AS segment_at_order,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM({oracle_cents('o.o_totalprice')}) AS BIGINT) AS total_cents
    FROM orders o
    JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND o.o_orderdate >= d.valid_from
     AND o.o_orderdate < d.valid_to
    GROUP BY d.segment
    """,
    tags=("join", "temporal", "scd2"),
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) dimension join — the SCD2 READ path: every
    order resolves the dimension version that was valid at its order
    date, so facts are attributed to historical attributes, never the
    current ones (`lakehouse_scd2_dimension` builds such history; this is
    how it is consumed).

    The versioned dimension is synthesized in-query (customers with
    custkey % 3 = 0 change segment at a fixed date). Plan shape: the
    dimension (≤2 versions per key) BROADCASTS; the validity range is a
    post-join filter on the broadcast hash join — the fact table never
    shuffles and no interval machinery is needed because versions-per-key
    is tiny and bounded, which is exactly the SCD2 regime at 100 TB.
    """
    c = load_table(spark, sf_dir, "customer")
    lo = F.lit("1970-01-01 00:00:00").cast("timestamp")
    hi = F.lit("9999-12-31 00:00:00").cast("timestamp")
    change = F.lit(_PIT_CHANGE_DATE).cast("timestamp")
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        lo.alias("valid_from"),
        F.when(F.col("c_custkey") % 3 == 0, change).otherwise(hi).alias("valid_to"),
    )
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.concat(F.lit("MOVED-"), F.col("c_mktsegment")).alias("segment"),
        change.alias("valid_from"),
        hi.alias("valid_to"),
    )
    dim = v1.unionAll(v2)
    o = load_table(spark, sf_dir, "orders")
    joined = o.join(
        F.broadcast(dim),
        (o["o_custkey"] == dim["c_custkey"])
        & (o["o_orderdate"] >= dim["valid_from"])
        & (o["o_orderdate"] < dim["valid_to"]),
    )
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).cast("long").alias("total_cents"),
    ).withColumnRenamed("segment", "segment_at_order")


@query(
    "join_asof_nearest",
    oracle="""
    WITH w AS (
      SELECT
        user_id,
        ts,
        event_type,
        last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_type NULLS LAST
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS prev_ts,
        first_value(CASE WHEN event_type = 'purchase' THEN ts END
                    IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_type NULLS LAST
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
          AS next_ts
      FROM events WHERE ts IS NOT NULL
    ), g AS (
      SELECT
        user_id,
        date_diff('second', date_trunc('second', prev_ts),
                  date_trunc('second', ts)) AS back_gap,
        date_diff('second', date_trunc('second', ts),
                  date_trunc('second', next_ts)) AS fwd_gap
      FROM w WHERE event_type <> 'purchase'
    ), pick AS (
      SELECT
        user_id,
        CASE
          WHEN back_gap IS NULL AND fwd_gap IS NULL THEN NULL
          WHEN fwd_gap IS NULL THEN 'backward'
          WHEN back_gap IS NULL THEN 'forward'
          WHEN back_gap <= fwd_gap THEN 'backward'
          ELSE 'forward' END AS side,
        CASE
          WHEN back_gap IS NULL AND fwd_gap IS NULL THEN NULL
          WHEN fwd_gap IS NULL THEN back_gap
          WHEN back_gap IS NULL THEN fwd_gap
          WHEN back_gap <= fwd_gap THEN back_gap
          ELSE fwd_gap END AS gap_s
      FROM g
    )
    SELECT
      user_id,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(COUNT(gap_s) AS BIGINT) AS n_matched,
      CAST(COUNT(*) FILTER (WHERE side = 'backward') AS BIGINT) AS n_backward,
      CAST(COUNT(*) FILTER (WHERE side = 'forward') AS BIGINT) AS n_forward,
      CAST(MAX(gap_s) AS BIGINT) AS max_nearest_gap_s
    FROM pick
    GROUP BY user_id
    """,
    tags=("join", "asof", "nearest"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join (both directions): for every
    non-purchase event, the temporally CLOSEST purchase by the same user —
    backward or forward, ties to backward. pandas' `merge_asof
    (direction='nearest')` semantics, re-expressed as the same
    single-shuffle window pair as `join_asof`/`join_asof_forward`: one
    backward last-IGNORE-NULLS, one forward first-IGNORE-NULLS, then a
    pure map picks the smaller gap. No join, no pair blowup — two sorted
    windows over one user_id shuffle (Spark evaluates both frames on one
    sort), O(n log n) per key at any scale.

    Gaps use the date_trunc-then-diff boundary-crossing form (the
    `join_asof` gotcha) so Spark µs and DuckDB ns timestamps agree
    bit-for-bit; all outputs are exact integer counts/seconds. Both
    windows (and the oracle's) order by (ts, event_type) so same-instant
    rows have one canonical order on both engines — determinism does not
    ride on per-user ts uniqueness in the generated data.
    """
    e = load_table(spark, sf_dir, "events").filter(
        # Dead-letter NULL event-times: a timestamp-less row is unordered in the as-of
        # window — Spark sorts NULLS FIRST, DuckDB NULLS LAST, so
        # prior-match existence flips by engine; both sides drop.
        F.col("ts").isNotNull()
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type").asc_nulls_last())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    pts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    w = e.select(
        "user_id",
        "ts",
        "event_type",
        F.last(pts, ignorenulls=True).over(wb).alias("prev_ts"),
        F.first(pts, ignorenulls=True).over(wf).alias("next_ts"),
    ).filter(F.col("event_type") != "purchase")
    g = w.select(
        "user_id",
        F.expr(
            "timestampdiff(SECOND, date_trunc('second', prev_ts),"
            " date_trunc('second', ts))"
        ).alias("back_gap"),
        F.expr(
            "timestampdiff(SECOND, date_trunc('second', ts),"
            " date_trunc('second', next_ts))"
        ).alias("fwd_gap"),
    )
    pick = g.select(
        "user_id",
        F.expr(
            "CASE WHEN back_gap IS NULL AND fwd_gap IS NULL THEN NULL"
            " WHEN fwd_gap IS NULL THEN 'backward'"
            " WHEN back_gap IS NULL THEN 'forward'"
            " WHEN back_gap <= fwd_gap THEN 'backward'"
            " ELSE 'forward' END"
        ).alias("side"),
        F.expr(
            "CASE WHEN back_gap IS NULL AND fwd_gap IS NULL THEN NULL"
            " WHEN fwd_gap IS NULL THEN back_gap"
            " WHEN back_gap IS NULL THEN fwd_gap"
            " WHEN back_gap <= fwd_gap THEN back_gap"
            " ELSE fwd_gap END"
        ).alias("gap_s"),
    )
    return pick.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap_s").alias("n_matched"),
        F.count(F.when(F.col("side") == "backward", 1)).alias("n_backward"),
        F.count(F.when(F.col("side") == "forward", 1)).alias("n_forward"),
        F.max("gap_s").cast("long").alias("max_nearest_gap_s"),
    )


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id,
             {oracle_epoch_s()} AS es
      FROM events
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
      SELECT user_id, sid, MIN(es) AS s0, MAX(es) AS s1
      FROM numbered GROUP BY user_id, sid
    ), hours AS (
      -- FLOOR division (// truncates toward zero): hour -0.5 must be hr
      -- -1, or the hr id and its nominal range [hr*3600, hr*3600+3599]
      -- disagree on pre-1970 epochs.
      SELECT (es - ((es % 3600 + 3600) % 3600)) // 3600 AS hr,
             COUNT(*) AS c
      FROM e GROUP BY hr
    ), tot AS (
      SELECT SUM(c) AS total, COUNT(*) AS n_hours FROM hours
    ), busy AS (
      SELECT hr FROM hours, tot WHERE c * n_hours * 10 >= 11 * total
    ), pairs AS (
      SELECT s.user_id, s.sid, b.hr,
             LEAST(s.s1, b.hr * 3600 + 3599)
               - GREATEST(s.s0, b.hr * 3600) + 1 AS overlap_s
      FROM sessions s JOIN busy b
        ON s.s0 <= b.hr * 3600 + 3599 AND b.hr * 3600 <= s.s1
    )
    SELECT
      user_id,
      CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_busy_sessions,
      CAST(COUNT(*) AS BIGINT) AS n_pairs,
      CAST(SUM(overlap_s) AS BIGINT) AS total_overlap_s,
      CAST(MAX(overlap_s) AS BIGINT) AS max_overlap_s
    FROM pairs GROUP BY user_id
    """,
    tags=("join", "interval", "range", "sessionization"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: each user's activity sessions (>30-min-gap
    sessionization, the `agg_sessionize_events` rule) joined against the
    corpus's BUSY HOURS (hour buckets whose event count is >= 1.1x the
    per-hour average — an exact integer predicate, the
    `agg_heavy_hitters` trick; `c * n_hours * 10` needs
    c·n_hours < ~9.2e17 to stay in int64 — ample headroom for any real
    corpus, but past it divide once on the broadcast side instead:
    `c * 10 >= 11 * (total DIV n_hours)`) on time-interval overlap,
    reporting per user how much session time landed in busy hours.

    The oracle states the join declaratively as the non-equi predicate
    `s0 <= hr_end AND hr_start <= s1` — the form that would be a
    cartesian-then-filter on a distributed engine. The Spark plan instead
    BUCKETS the interval join: every session explodes into the hour
    buckets it spans (`sequence(s0 DIV 3600, s1 DIV 3600)` — map-side,
    fan-out = session span in hours, bounded and tiny for gap-capped
    sessions), and overlap becomes an EQUI-join on the hour key — the
    standard interval-bucketing rewrite that keeps 100 TB of sessions
    shuffle-joinable (here the busy-hour side is also calendar-sized, so
    it broadcasts and even the bucket shuffle disappears). Overlap
    seconds are exact closed-interval integer arithmetic on
    second-truncated epochs — no timestamp subtraction, no floats.
    """
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    e = load_table(spark, sf_dir, "events").select(
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
        F.sum("new_s").over(
            Window.partitionBy("user_id")
            .orderBy("es", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sessions = numbered.groupBy("user_id", "sid").agg(
        F.min("es").alias("s0"), F.max("es").alias("s1")
    )
    # Floor division (DIV truncates toward zero): pmod makes the operand an
    # exact multiple first, so the division is truncation-direction-
    # independent and the hr id matches its nominal [hr*3600, hr*3600+3599]
    # range for ANY epoch sign (trunc'd ids would put pre-1970 seconds into
    # hours whose nominal range excludes them, and the explode-by-id and
    # predicate-join formulations diverge).
    hours = e.groupBy(
        F.expr("(es - pmod(es, 3600)) DIV 3600").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = hours.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_hours")
    )
    busy = (
        hours.crossJoin(F.broadcast(tot))
        .filter(
            F.col("c") * F.col("n_hours") * F.lit(10)
            >= F.lit(11) * F.col("total")
        )
        .select("hr")
    )
    exploded = sessions.select(
        "user_id",
        "sid",
        "s0",
        "s1",
        F.explode(
            F.sequence(
                F.expr("(s0 - pmod(s0, 3600)) DIV 3600").cast("long"),
                F.expr("(s1 - pmod(s1, 3600)) DIV 3600").cast("long"),
            )
        ).alias("hr"),
    )
    pairs = exploded.join(F.broadcast(busy), "hr").select(
        "user_id",
        "sid",
        (
            F.least(F.col("s1"), F.col("hr") * 3600 + 3599)
            - F.greatest(F.col("s0"), F.col("hr") * 3600)
            + 1
        ).alias("overlap_s"),
    )
    return pairs.groupBy("user_id").agg(
        F.count_distinct("sid").alias("n_busy_sessions"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("overlap_s").cast("long").alias("total_overlap_s"),
        F.max("overlap_s").cast("long").alias("max_overlap_s"),
    )
