"""Window functions: ranking, analytic (lag/lead/first/last), frames.

Contract-mandated surface (SURVEY.md §2 Part B); the reference has none.

Scale notes: a window = one shuffle on partitionBy keys + per-partition
sort. The cardinal rule at 100 TB is to never use a window WITHOUT a
partitionBy (single-partition global sort); every query here partitions on
a real key. Running/sliding frames evaluate incrementally (no O(n²)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    dec,
    oracle_dec,
    oracle_epoch_s,
    spark_epoch_s,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table


@query(
    "window_ranking",
    oracle="""
    WITH w AS (
      SELECT
        o_custkey,
        o_orderkey,
        o_totalprice,
        ROW_NUMBER() OVER pw AS rn,
        RANK() OVER pw AS rnk,
        DENSE_RANK() OVER pw AS drnk,
        NTILE(4) OVER pw AS quartile
      FROM orders
      WINDOW pw AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    )
    SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk, quartile
    FROM w WHERE rn <= 3
    """,
    tags=("window", "ranking"),
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile per customer, top-3 rows kept.

    The o_orderkey tiebreak makes every ranking deterministic (o_totalprice
    alone could tie → nondeterministic row_number). The rn<=3 filter is the
    per-group top-k idiom: Spark pushes a WindowGroupLimit below the sort.
    """
    o = load_table(spark, sf_dir, "orders")
    pw = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(pw).alias("rn"),
            F.rank().over(pw).alias("rnk"),
            F.dense_rank().over(pw).alias("drnk"),
            F.ntile(4).over(pw).alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_analytic",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      o_totalprice,
      LAG(o_totalprice) OVER pw AS prev_price,
      LEAD(o_totalprice) OVER pw AS next_price,
      FIRST_VALUE(o_totalprice) OVER pw AS first_price,
      o_totalprice - COALESCE(LAG(o_totalprice) OVER pw, o_totalprice) AS price_delta
    FROM orders
    WHERE o_custkey < 100
    WINDOW pw AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate NULLS LAST, o_orderkey)
    """,
    tags=("window", "analytic"),
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value over each customer's order history in date
    order (orderkey tiebreak for determinism)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    pw = Window.partitionBy("o_custkey").orderBy(
        # NULLS LAST explicitly: Spark defaults NULLS FIRST ascending,
        # DuckDB NULLS LAST — an undated order diverged in window order;
        # dated history first on both engines.
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey"
    )
    lag_price = F.lag("o_totalprice").over(pw)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        lag_price.alias("prev_price"),
        F.lead("o_totalprice").over(pw).alias("next_price"),
        F.first("o_totalprice").over(pw).alias("first_price"),
        (F.col("o_totalprice") - F.coalesce(lag_price, F.col("o_totalprice"))).alias(
            "price_delta"
        ),
    )


@query(
    "window_frames",
    oracle=f"""
    SELECT
      o_custkey,
      o_orderkey,
      CAST(CAST(SUM({oracle_dec('o_totalprice')})
        OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate NULLS LAST, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)
        AS running_total,
      CAST(CAST(SUM({oracle_dec('o_totalprice')})
        OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate NULLS LAST, o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)
        AS sliding_3_sum,
      COUNT(*) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate NULLS LAST, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS orders_so_far
    FROM orders
    WHERE o_custkey < 50
    """,
    tags=("window", "frames"),
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running and sliding frame sums (ROWS BETWEEN): cumulative customer
    spend and a 3-order moving sum. Decimal sums inside the frame keep the
    running totals bit-identical across engines regardless of frame
    evaluation order."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    # NULLS LAST on both engines — see window_analytic.
    ordering = [F.col("o_orderdate").asc_nulls_last(), F.col("o_orderkey")]
    run = (
        Window.partitionBy("o_custkey")
        .orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    slide = (
        Window.partitionBy("o_custkey")
        .orderBy(*ordering)
        .rowsBetween(-2, Window.currentRow)
    )
    price_dec = dec("o_totalprice")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(price_dec).over(run).cast("double").alias("running_total"),
        F.sum(price_dec).over(slide).cast("double").alias("sliding_3_sum"),
        F.count(F.lit(1)).over(run).alias("orders_so_far"),
    )


@query(
    "window_range_frame",
    oracle=f"""
    SELECT
      user_id,
      event_id,
      COUNT(*) OVER (
        PARTITION BY user_id ORDER BY epoch_s
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
      ) AS events_last_hour
    FROM (
      SELECT user_id, event_id, {oracle_epoch_s()} AS epoch_s
      FROM events
    )
    """,
    tags=("window", "frames", "range"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per event, how many events the same
    user produced in the trailing hour. The range key is epoch seconds
    (integer) so Spark-µs and DuckDB-ns timestamps agree exactly.

    Both engines truncate ts to the second BEFORE differencing (the
    floor form). The previous raw diff-from-epoch was engine-symmetric
    (both truncate the result toward zero) but semantically warty on
    pre-1970 timestamps: truncation toward zero maps (-1s, +1s) onto a
    double-width "second 0", so a trailing-hour frame at the epoch
    boundary admitted 3601 distinct seconds."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        e.withColumn(
            "epoch_s",
            F.expr(spark_epoch_s()),
        )
        .select(
            "user_id",
            "event_id",
            F.count(F.lit(1)).over(w).alias("events_last_hour"),
        )
    )


@query(
    "window_topk_per_group",
    oracle="""
    WITH ranked AS (
      SELECT
        p_brand,
        p_partkey,
        p_retailprice,
        ROW_NUMBER() OVER (PARTITION BY p_brand
                           ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part
    )
    SELECT p_brand, p_partkey, p_retailprice, rn
    FROM ranked WHERE rn <= 2
    """,
    tags=("window", "topk"),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: 2 priciest parts per brand. Spark 3.5+/4 rewrites
    rn<=k into WindowGroupLimit (per-partition heap before the shuffle) —
    the right top-k-per-key plan at any scale."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
    )


@query(
    "window_distribution",
    oracle="""
    SELECT
      p_brand,
      p_partkey,
      percent_rank() OVER pw AS pr,
      cume_dist() OVER pw AS cd
    FROM part
    WHERE p_size > 40
    WINDOW pw AS (PARTITION BY p_brand
                  ORDER BY p_retailprice NULLS LAST, p_partkey NULLS LAST)
    """,
    tags=("window", "distribution"),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist distribution functions per brand — rank
    normalization, the window form of quantile features (both are exact
    rational values n/m so they hash identically across engines).

    This query exists to cover the built-in distribution-function surface;
    its per-brand window funnels each brand through one task. When the
    output must stay per-row at warehouse scale, derive both values from
    the two-phase bucketed rank instead (``functions/twophase.py``:
    pr = (rk-1)/(n-1), cd = rk/n under this total order) — the form the
    exact-order-statistic queries here already use."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    # NULLS LAST on both engines: priceless / keyless parts diverged in
    # rank order.
    pw = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").asc_nulls_last(),
        F.col("p_partkey").asc_nulls_last(),
    )
    return p.select(
        "p_brand",
        "p_partkey",
        F.percent_rank().over(pw).alias("pr"),
        F.cume_dist().over(pw).alias("cd"),
    )


@query(
    "window_nth_value",
    oracle="""
    SELECT DISTINCT
      o_orderstatus,
      nth_value(o_totalprice, 2) OVER w AS second_highest,
      nth_value(o_totalprice, 3) OVER w AS third_highest,
      first_value(o_orderkey) OVER w AS top_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "analytic", "nth-value"),
)
def window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``nth_value`` with an explicit full-partition frame — the analytic
    family's remaining member after first/last/lag/lead: positional
    lookups into an ordered partition (2nd/3rd highest price per status)
    without a rank-then-self-join. The full-frame spec matters:
    nth_value's default frame cuts off at CURRENT ROW and silently yields
    NULLs for rows before position n — the classic frame-default trap,
    pinned here by the identical WINDOW clause on both engines. The
    total-order tiebreak makes every positional answer deterministic, and
    DISTINCT collapses the per-row duplicates to one row per status.
    """
    return spark.sql(
        """
        SELECT DISTINCT
          o_orderstatus,
          nth_value(o_totalprice, 2) OVER w AS second_highest,
          nth_value(o_totalprice, 3) OVER w AS third_highest,
          first_value(o_orderkey) OVER w AS top_orderkey
        FROM {orders}
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )
