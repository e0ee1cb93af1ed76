"""Business-analytics composites over the order history: RFM customer
segmentation and Pareto (ABC) supplier analysis.

No reference file:line exists (the reference executes no analytics —
SURVEY.md §2A); contract-mandated [EXT] surface. Scale notes:

  * RFM — quintile scores are assigned by comparing each customer's
    metrics against GLOBAL quantile cutoffs (a 1-row aggregate broadcast
    back), not by a global ``ntile`` sort: the scoring pass is map-side,
    so the plan has no SinglePartition window over customers. Cutoffs use
    exact continuous percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont`` — interpolation matches bit-for-bit, proven by
    agg_percentile_exact).
  * Pareto / ABC / Gini — revenue ranks and running shares run over the
    SUPPLIER/part/customer rollups (not lineitems) AND are two-phase
    (``functions.twophase.two_phase_rank``): value-range buckets rank in
    parallel, only the 4096-row bucket table crosses an ordered window —
    the rollup, itself O(SF) rows, never funnels through one partition.
    Cumulative sums run over exact decimals/longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.twophase import two_phase_rank
from biglake_iceberg_python_spark.functions.exprs import (
    cents,
    dec,
    dsum,
    oracle_cents,
    oracle_dec,
    oracle_dsum,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

# Observation date for recency: the day after the last order in the data.
_RFM_METRICS = ("rec_days", "freq", "monetary")


def _score(metric: str) -> F.Column:
    """1..5 score: 1 + count of quantile cutoffs strictly below the value."""
    c = F.col(metric)
    return (
        F.lit(1)
        + (c > F.col(f"{metric}_q20")).cast("int")
        + (c > F.col(f"{metric}_q40")).cast("int")
        + (c > F.col(f"{metric}_q60")).cast("int")
        + (c > F.col(f"{metric}_q80")).cast("int")
    )


def _oracle_score(metric: str) -> str:
    return (
        f"1 + CAST({metric} > {metric}_q20 AS INTEGER)"
        f" + CAST({metric} > {metric}_q40 AS INTEGER)"
        f" + CAST({metric} > {metric}_q60 AS INTEGER)"
        f" + CAST({metric} > {metric}_q80 AS INTEGER)"
    )


_ORACLE_CUTOFFS = ", ".join(
    f"quantile_cont({m}, {q / 100}) AS {m}_q{q}"
    for m in _RFM_METRICS
    for q in (20, 40, 60, 80)
)

_ORACLE_RFM = f"""
    WITH per_cust AS (
      SELECT
        o_custkey,
        date_diff('day', MAX(o_orderdate),
                  (SELECT MAX(o_orderdate) FROM orders)) AS rec_days,
        COUNT(*) AS freq,
        {oracle_dsum('o_totalprice')} AS monetary
      FROM orders GROUP BY o_custkey
    ), cutoffs AS (
      SELECT {_ORACLE_CUTOFFS} FROM per_cust
    ), scored AS (
      SELECT
        {_oracle_score('rec_days')} AS r,
        {_oracle_score('freq')} AS f,
        {_oracle_score('monetary')} AS m,
        monetary
      FROM per_cust, cutoffs
    )
    SELECT
      CAST(r AS INTEGER) AS r_score,
      CAST(f AS INTEGER) AS f_score,
      CAST(m AS INTEGER) AS m_score,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      {oracle_dsum('monetary')} AS segment_value
    FROM scored GROUP BY r, f, m
"""


@query(
    "customer_rfm_segments",
    oracle=_ORACLE_RFM,
    tags=("business", "rfm", "segmentation"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: score every customer 1-5 on recency, frequency,
    and monetary value against global quintile cutoffs, then roll up
    segment sizes and value.

    One shuffle builds the per-customer metrics (map-side combined); the
    12 cutoffs come back as a broadcast 1-row table so scoring is
    map-side — no global ntile sort, which is what makes quintile scoring
    survive a billion customers. Recency is an integer day difference
    against the corpus max order date (midnight-aligned timestamps, so
    both engines count identical day boundaries).
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        dsum("o_totalprice", "monetary"),
    )
    maxdate = o.agg(F.max("o_orderdate").alias("corpus_max"))
    per_cust = per_cust.join(F.broadcast(maxdate)).select(
        F.datediff(F.col("corpus_max"), F.col("last_order")).alias("rec_days"),
        "freq",
        "monetary",
    )
    cutoffs = per_cust.agg(
        *[
            F.expr(f"percentile({m}, {q / 100})").alias(f"{m}_q{q}")
            for m in _RFM_METRICS
            for q in (20, 40, 60, 80)
        ]
    )
    scored = per_cust.join(F.broadcast(cutoffs)).select(
        _score("rec_days").alias("r_score"),
        _score("freq").alias("f_score"),
        _score("monetary").alias("m_score"),
        "monetary",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("monetary", "segment_value"),
    )


@query(
    "supplier_pareto",
    oracle=f"""
    WITH rev AS (
      SELECT
        l_suppkey,
        {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
      FROM lineitem GROUP BY l_suppkey
    ), ranked AS (
      SELECT
        l_suppkey, revenue,
        ROW_NUMBER() OVER (ORDER BY revenue DESC, l_suppkey) AS rk,
        CAST(CAST(SUM({oracle_dec('revenue')}) OVER (
          ORDER BY revenue DESC, l_suppkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)
          AS cum_revenue,
        CAST(CAST(SUM({oracle_dec('revenue')}) OVER () AS STRING) AS DOUBLE)
          AS total_revenue
      FROM rev
    )
    SELECT
      l_suppkey,
      CAST(rk AS BIGINT) AS rk,
      revenue,
      cum_revenue,
      cum_revenue / total_revenue AS cum_share,
      CASE WHEN cum_revenue / total_revenue <= 0.8 THEN 'A'
           WHEN cum_revenue / total_revenue <= 0.95 THEN 'B'
           ELSE 'C' END AS abc_class
    FROM ranked
    """,
    tags=("business", "pareto", "window"),
)
def supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: suppliers ranked by revenue with cumulative
    share, classed A (first 80% of revenue), B (to 95%), C (tail).

    The global ordering runs over the per-supplier rollup — but suppliers
    still grow O(SF), so the rank and running sum are TWO-PHASE
    (:func:`two_phase_rank`): revenue-range buckets rank/cumsum in
    parallel and only the 4096-row bucket table crosses an ordered
    window — no single partition ever holds the full rollup. The bucket
    key is exact integer micro-units (scale-6 decimal × 10⁶; supplier
    revenue ≪ 2⁵⁰ micro-units at any realistic SF, see twophase.py's
    int64 bound), cumulative and total sums stay in exact decimal until
    the final share division, so the running shares match DuckDB's naive
    global window bit-for-bit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )
    rd = dec("revenue")
    # revenue DESC, suppkey ASC == ascending on the negated micro-unit key
    key = -((rd * 1000000).cast("long"))
    ranked = two_phase_rank(rev, key, "l_suppkey", cums={"revenue": rd})
    tot = rev.agg(F.sum(rd).alias("__tot"))
    ranked = ranked.crossJoin(F.broadcast(tot)).select(
        "l_suppkey",
        F.col("rk").cast("long").alias("rk"),
        "revenue",
        F.col("cum_revenue").cast("double").alias("cum_revenue"),
        F.col("__tot").cast("double").alias("total_revenue"),
    )
    share = F.col("cum_revenue") / F.col("total_revenue")
    return ranked.select(
        "l_suppkey",
        "rk",
        "revenue",
        "cum_revenue",
        share.alias("cum_share"),
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "basket_copurchase_lift",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem
    ), pk AS (
      SELECT l_partkey, COUNT(*) AS c FROM op GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS c_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 3
    )
    SELECT
      part_a, part_b,
      CAST(c_ab AS BIGINT) AS n_cooccur,
      CAST(c_ab AS DOUBLE) / n.n_orders AS support,
      CAST(c_ab AS DOUBLE) / ca.c AS confidence,
      CAST(c_ab * n.n_orders AS DOUBLE) / (ca.c * cb.c) AS lift
    FROM pairs
    JOIN pk ca ON ca.l_partkey = part_a
    JOIN pk cb ON cb.l_partkey = part_b
    CROSS JOIN n
    """,
    tags=("business", "basket", "association"),
)
def basket_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: co-purchased part pairs with
    support, confidence, and lift.

    The pair space is generated by a SELF-JOIN ON THE ORDER KEY — pairs
    per order are basket-size², never catalog², which is what bounds this
    at scale (the naive part×part cross join is structurally impossible
    here). The per-part counts broadcast back onto the surviving
    (thresholded) pairs. Support/confidence/lift each divide exact
    integers once, so scores hash-match across engines; the min-support
    HAVING prunes the pair tail before any metric math.
    """
    # (order, part) basket items are consumed four times (order count,
    # item counts, both pair sides) — materialized so the scan+distinct
    # runs once; the part-level count table twice (both pair ends).
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # count_distinct skips a NULL order key like the oracle's
    # COUNT(DISTINCT); distinct()+COUNT(*) counted the NULL row.
    n = op.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    pk = (
        op.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    a = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    ca = pk.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    cb = pk.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .join(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("c_ab").alias("n_cooccur"),
            (F.col("c_ab").cast("double") / F.col("n_orders")).alias(
                "support"
            ),
            (F.col("c_ab").cast("double") / F.col("ca")).alias("confidence"),
            (
                (F.col("c_ab") * F.col("n_orders")).cast("double")
                / (F.col("ca") * F.col("cb"))
            ).alias("lift"),
        )
    )


@query(
    "customer_gini_spend",
    oracle=f"""
    WITH spend AS (
      SELECT
        c.c_nationkey,
        o.o_custkey,
        SUM({oracle_cents('o.o_totalprice')}) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ), ranked AS (
      SELECT
        n.n_name,
        s.cents,
        ROW_NUMBER() OVER (PARTITION BY n.n_name
                           ORDER BY s.cents, s.o_custkey) AS rk
      FROM spend s JOIN nation n ON s.c_nationkey = n.n_nationkey
    )
    SELECT
      n_name,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(cents) AS BIGINT) AS total_cents,
      (2.0 * CAST(SUM(rk * cents) AS DOUBLE)
         - (COUNT(*) + 1) * CAST(SUM(cents) AS DOUBLE))
        / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE)) AS gini
    FROM ranked
    GROUP BY n_name
    """,
    tags=("business", "statistics", "inequality"),
)
def customer_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation — the revenue-
    concentration metric behind whale-risk and marketplace-health
    dashboards, computed by the exact rank formula
    G = (2·Σ rk·x − (n+1)·Σx) / (n·Σx).

    Ranks come from the two-phase per-nation rank
    (:func:`two_phase_rank`, custkey tiebreak): spend-range buckets rank
    in parallel and only each nation's 4096-row bucket table crosses an
    ordered window — a nation's customers never funnel through one
    partition. Spend is integer cents, so Σ rk·x and Σ x are exact
    integers and the single final division is the only float op —
    bit-stable and hash-matched.

    100 TB: one shuffle aggregates orders to customer grain (map-side
    combined); the 25-row nation dim broadcasts, the customer projection
    joins unhinted (AQE: broadcast small, custkey shuffle at scale), and
    the rank is bucket-parallel per nation — the same two-phase shape as
    the Pareto/ABC queries it complements.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    spend = (
        o.select("o_custkey", cents("o_totalprice").alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "o_custkey", "cents")
    )
    ranked = two_phase_rank(
        spend, F.col("cents"), "o_custkey", partition_cols=("n_name",)
    )
    nd = F.count(F.lit(1)).cast("double")
    sx = F.sum("cents")
    srx = F.sum(F.col("rk") * F.col("cents"))
    return ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        sx.cast("long").alias("total_cents"),
        (
            (F.lit(2.0) * srx.cast("double") - (F.count(F.lit(1)) + 1) * sx.cast("double"))
            / (nd * sx.cast("double"))
        ).alias("gini"),
    )


@query(
    "supplier_concentration_hhi",
    oracle=f"""
    WITH s AS (
      SELECT l_suppkey,
             SUM({oracle_cents('l_extendedprice')}) AS cents
      FROM lineitem GROUP BY l_suppkey
    ), tot AS (SELECT SUM(cents) AS t, COUNT(*) AS n FROM s)
    SELECT
      CAST(tot.n AS BIGINT) AS n_suppliers,
      CAST(tot.t AS BIGINT) AS total_cents,
      CAST(SUM(CAST(floor(1e12 * (CAST(s.cents AS DOUBLE) / tot.t)
                          * (CAST(s.cents AS DOUBLE) / tot.t)) AS BIGINT))
        AS DOUBLE) / 1e8 AS hhi,
      10000.0 / tot.n AS hhi_floor
    FROM s CROSS JOIN tot
    GROUP BY tot.n, tot.t
    """,
    tags=("business", "concentration", "statistics"),
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue concentration — the
    antitrust/supply-risk scalar complementing the Gini (Gini measures
    inequality of the distribution; HHI weights the largest shares
    quadratically, which is what single-point-of-failure risk cares
    about). Reported on the conventional 0–10000 scale with the
    perfect-competition floor 10000/n for context.

    Per-supplier revenue is an exact integer-cents rollup; the 1-row
    total broadcasts back, each share² term is the identical pair of
    double ops in both engines and quantizes to integer picounits (floor
    — no halfway case exists to disagree on) BEFORE the sum, so the
    summed index is exact int64 arithmetic like every other quantized
    reduction here. One supplier-key shuffle, map-side combined.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = (
        li.select("l_suppkey", cents("l_extendedprice").alias("cents"))
        .groupBy("l_suppkey")
        .agg(F.sum("cents").alias("cents"))
    )
    tot = s.agg(F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n"))
    share = F.col("cents").cast("double") / F.col("t")
    term = F.floor(F.lit(1e12) * share * share).cast("long")
    return (
        s.crossJoin(F.broadcast(tot))
        .groupBy("n", "t")
        .agg((F.sum(term).cast("double") / F.lit(1e8)).alias("hhi"))
        .select(
            F.col("n").cast("long").alias("n_suppliers"),
            F.col("t").cast("long").alias("total_cents"),
            "hhi",
            (F.lit(10000.0) / F.col("n")).alias("hhi_floor"),
        )
    )


@query(
    "orders_mix_shift_chi2",
    oracle="""
    WITH y AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority AS prio
      FROM orders
    ), cell AS (
      SELECT yr, prio, COUNT(*) AS o FROM y GROUP BY yr, prio
    ), rt AS (SELECT yr, SUM(o) AS r FROM cell GROUP BY yr),
    ct AS (SELECT prio, SUM(o) AS c FROM cell GROUP BY prio),
    tot AS (SELECT SUM(o) AS n FROM cell)
    SELECT
      cell.yr,
      cell.prio,
      CAST(cell.o AS BIGINT) AS observed,
      CAST(rt.r AS DOUBLE) * ct.c / tot.n AS expected,
      (CAST(cell.o AS DOUBLE) - CAST(rt.r AS DOUBLE) * ct.c / tot.n)
        * (CAST(cell.o AS DOUBLE) - CAST(rt.r AS DOUBLE) * ct.c / tot.n)
        / (CAST(rt.r AS DOUBLE) * ct.c / tot.n) AS chi2_term
    FROM cell
    JOIN rt ON cell.yr = rt.yr
    JOIN ct ON cell.prio = ct.prio
    CROSS JOIN tot
    """,
    tags=("business", "drift", "chi-square"),
)
def orders_mix_shift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² test of independence between order YEAR and PRIORITY mix — the
    categorical drift monitor ("did the priority mix shift over time")
    complementing the continuous JS-divergence monitor on text sources.
    Large per-cell χ² terms localize WHICH year×priority cell moved.

    Observed counts and both margins are exact integers from one
    contingency pass; expected = r·c/n and each χ² term run as the
    identical double sequence in both engines, so every cell is
    bit-stable. The margins are |years|- and |priorities|-row tables —
    broadcast joins back onto the cell table; year extraction uses
    year() on an NTZ timestamp, which is TZ-independent.
    """
    o = load_table(spark, sf_dir, "orders")
    y = o.select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderpriority").alias("prio"),
    )
    cell = y.groupBy("yr", "prio").agg(F.count(F.lit(1)).alias("o"))
    rt = cell.groupBy("yr").agg(F.sum("o").alias("r"))
    ct = cell.groupBy("prio").agg(F.sum("o").alias("c"))
    tot = cell.agg(F.sum("o").alias("n"))
    exp = F.col("r").cast("double") * F.col("c") / F.col("n")
    diff = F.col("o").cast("double") - exp
    return (
        cell.join(F.broadcast(rt), "yr")
        .join(F.broadcast(ct), "prio")
        .crossJoin(F.broadcast(tot))
        .select(
            "yr",
            "prio",
            F.col("o").cast("long").alias("observed"),
            exp.alias("expected"),
            (diff * diff / exp).alias("chi2_term"),
        )
    )


@query(
    "part_abc_xyz_classification",
    oracle=f"""
    WITH pr AS (
      SELECT l_partkey,
             SUM({oracle_cents('l_extendedprice')}) AS rev,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             CAST(SUM({oracle_cents('l_quantity')}) AS DECIMAL(38,0)) AS sq,
             SUM(CAST({oracle_cents('l_quantity')} AS DECIMAL(38,0))
               * {oracle_cents('l_quantity')})
               AS sqq
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, rev, n, sq, sqq,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
             SUM(rev) OVER () AS tot_rev
      FROM pr
    ), classed AS (
      SELECT
        CASE WHEN cum_rev * 10 <= tot_rev * 8 THEN 'A'
             WHEN cum_rev * 100 <= tot_rev * 95 THEN 'B'
             ELSE 'C' END AS abc,
        -- XYZ: coefficient of variation of order quantity, decided by the
        -- integer cross-multiplication (n·sqq − sq²) vs (cv²·sq²)
        CASE WHEN (n * sqq - sq * sq) * 100 <= sq * sq * 4 THEN 'X'
             WHEN (n * sqq - sq * sq) * 100 <= sq * sq * 16 THEN 'Y'
             ELSE 'Z' END AS xyz,
        rev
      FROM ranked
    )
    SELECT abc, xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS BIGINT) AS revenue_cents
    FROM classed GROUP BY abc, xyz
    """,
    tags=("business", "inventory", "classification"),
)
def part_abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory matrix — the planning classification that crosses
    revenue importance (A = first 80% of cumulative revenue, B = to 95%,
    C = tail) with demand variability (X/Y/Z by coefficient of variation
    of order quantity): A-X items get tight service levels, C-Z items get
    made to order.

    Every class boundary is an INTEGER comparison: the Pareto cut
    cross-multiplies cumulative vs total revenue (cum·10 ≤ tot·8), and
    the CV cut compares n·Σq²−(Σq)² against cv²·(Σq)² in DECIMAL — no
    float thresholds anywhere, so per-part classes and the 9-cell rollup
    hash-match. One part-key shuffle; the rank/cumsum over the O(SF) part
    rollup is two-phase (:func:`two_phase_rank`) — only the 4096-row
    bucket table crosses an ordered window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev_c = cents("l_extendedprice")
    qty_c = cents("l_quantity")
    pr = li.groupBy("l_partkey").agg(
        F.sum(rev_c).alias("rev"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(qty_c).cast("decimal(38,0)").alias("sq"),
        F.sum(qty_c.cast("decimal(38,0)") * qty_c).alias("sqq"),
    )
    # rev DESC, partkey ASC == ascending on the negated long-cents key;
    # two-phase rank/cumsum: no single-partition window over the O(SF)
    # part rollup (see supplier_pareto / twophase.py).
    ranked = two_phase_rank(
        pr, -F.col("rev"), "l_partkey", cums={"rev": F.col("rev")}
    )
    tot = pr.agg(F.sum("rev").alias("tot_rev"))
    ranked = ranked.crossJoin(F.broadcast(tot))
    css = F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")
    classed = ranked.select(
        F.when(F.col("cum_rev") * 10 <= F.col("tot_rev") * 8, "A")
        .when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 95, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(css * 100 <= F.col("sq") * F.col("sq") * 4, "X")
        .when(css * 100 <= F.col("sq") * F.col("sq") * 16, "Y")
        .otherwise("Z")
        .alias("xyz"),
        "rev",
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("long").alias("revenue_cents"),
    )


@query(
    "orders_aging_buckets",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderdate) AS dmax FROM orders),
    aged AS (
      SELECT o.o_orderstatus,
             {oracle_cents('o.o_totalprice')} AS cents,
             date_diff('day', CAST(o.o_orderdate AS DATE), CAST(mx.dmax AS DATE))
               AS age_days
      FROM orders o CROSS JOIN mx
      WHERE o.o_orderstatus IN ('O', 'P')
    )
    SELECT
      o_orderstatus,
      CASE WHEN age_days <= 365 THEN 'a_0_1y'
           WHEN age_days <= 1095 THEN 'b_1_3y'
           ELSE 'c_over_3y' END AS age_bucket,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(cents) AS BIGINT) AS open_cents
    FROM aged
    GROUP BY o_orderstatus, 2
    """,
    tags=("business", "aging", "receivables"),
)
def orders_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report — the receivables/backlog staple: orders
    not yet finalized ('O'/'P') bucketed by age at the observation date
    (the max order date), with counts and open value per bucket. The
    oldest bucket is where escalation lives.

    Age is whole days between DATE-truncated endpoints (calendar-day
    difference is TZ-independent on NTZ data and identical to DuckDB's
    date_diff on DATEs); buckets are integer comparisons; values are
    exact cents. The 1-row observation date broadcasts; one
    status×bucket rollup.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "P")
    )
    mx = load_table(spark, sf_dir, "orders").agg(
        F.max("o_orderdate").alias("dmax")
    )
    aged = o.crossJoin(F.broadcast(mx)).select(
        "o_orderstatus",
        cents("o_totalprice").alias("cents"),
        F.datediff(
            F.col("dmax").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("age_days"),
    )
    bucket = (
        F.when(F.col("age_days") <= 365, "a_0_1y")
        .when(F.col("age_days") <= 1095, "b_1_3y")
        .otherwise("c_over_3y")
    )
    return aged.groupBy("o_orderstatus", bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("open_cents"),
    )


@query(
    "customer_theil_index",
    oracle=f"""
    WITH s AS (
      SELECT o_custkey,
             SUM({oracle_cents('o_totalprice')}) AS cents
      FROM orders GROUP BY o_custkey
    ), tot AS (SELECT SUM(cents) AS t, COUNT(*) AS n FROM s)
    SELECT
      CAST(tot.n AS BIGINT) AS n_customers,
      CAST(SUM(CASE WHEN s.cents <= 0 THEN 0
               ELSE CAST(round(1e6 * (CAST(s.cents AS DOUBLE) / tot.t)
                          * ln(CAST(s.cents AS DOUBLE) * tot.n / tot.t))
                    AS BIGINT) END) AS BIGINT) AS theil_micro_nats
    FROM s CROSS JOIN tot
    GROUP BY tot.n
    """,
    tags=("business", "inequality", "theil"),
)
def customer_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer spend — the third inequality lens beside
    Gini (rank-based) and HHI (quadratic): Theil is the ENTROPY-based
    measure, and the only one of the three that decomposes additively
    into between-group + within-group terms (the property segmentation
    analyses exploit).

    Each share·ln(share·n) term quantizes to integer micro-nats before
    the sum (the perplexity recipe; ln of a rational is irrational except
    at share = 1/n where the term is exactly 0) — so the summed index is
    exact int64. One customer-grain shuffle plus a broadcast totals row,
    identical shape to the HHI query it complements.
    """
    o = load_table(spark, sf_dir, "orders")
    s = (
        o.select("o_custkey", cents("o_totalprice").alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    tot = s.agg(F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n"))
    share = F.col("cents").cast("double") / F.col("t")
    # <= 0, not == 0: a refund-heavy customer
    # can have NEGATIVE net cents, and ln(negative) RAISES in DuckDB while
    # Spark returns NULL — crash-vs-garbage. Theil is defined on positive
    # incomes; nonpositive spenders contribute a zero term on both engines.
    term = F.when(F.col("cents") <= 0, F.lit(0)).otherwise(
        F.round(
            F.lit(1e6)
            * share
            * F.log(F.col("cents").cast("double") * F.col("n") / F.col("t"))
        ).cast("long")
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(F.sum(term).cast("long").alias("theil_micro_nats"))
        .select(
            F.col("n").cast("long").alias("n_customers"), "theil_micro_nats"
        )
    )


_APRIORI_MINSUP = 2   # absolute basket support
_APRIORI_TOPN = 5     # per-size leaderboard depth


@query(
    "basket_apriori_itemsets",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), f1 AS (
      SELECT pk, COUNT(*) AS sup FROM items GROUP BY pk
      HAVING COUNT(*) >= {_APRIORI_MINSUP}
    ), p2 AS (
      SELECT a.pk AS x, b.pk AS y, COUNT(*) AS sup
      FROM items a
      JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      JOIN f1 fa ON fa.pk = a.pk
      JOIN f1 fb ON fb.pk = b.pk
      GROUP BY a.pk, b.pk
    ), f2 AS (
      SELECT x, y, sup FROM p2 WHERE sup >= {_APRIORI_MINSUP}
    ), f3 AS (
      SELECT f.x, f.y, c.pk AS z, COUNT(*) AS sup
      FROM f2 f
      JOIN items b2 ON b2.pk = f.y
      JOIN items c ON c.ok = b2.ok AND c.pk > f.y
      JOIN items a2 ON a2.ok = b2.ok AND a2.pk = f.x
      JOIN f2 xz ON xz.x = f.x AND xz.y = c.pk
      JOIN f2 yz ON yz.x = f.y AND yz.y = c.pk
      GROUP BY f.x, f.y, c.pk
      HAVING COUNT(*) >= {_APRIORI_MINSUP}
    ), all_sets AS (
      SELECT CAST(pk AS VARCHAR) AS itemset, 1 AS sz, sup FROM f1
      UNION ALL
      SELECT x || '|' || y, 2, sup FROM f2
      UNION ALL
      SELECT x || '|' || y || '|' || z, 3, sup FROM f3
    ), ranked AS (
      SELECT itemset, sz, sup,
             ROW_NUMBER() OVER (PARTITION BY sz
                                ORDER BY sup DESC, itemset) AS rk
      FROM all_sets
    )
    SELECT itemset, CAST(sz AS BIGINT) AS sz, CAST(sup AS BIGINT) AS support,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_APRIORI_TOPN}
    ORDER BY sz, rk
    """,
    tags=("business", "basket", "apriori", "itemsets"),
)
def basket_apriori_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset mining (Apriori, k ≤ 3) over order baskets — the
    full market-basket upgrade to `basket_copurchase_lift`'s pairwise
    view: frequent singles, pairs, and triples with ABSOLUTE basket
    support ≥ {_APRIORI_MINSUP}, per-size top-{_APRIORI_TOPN}
    leaderboard. Candidate generation uses the real Apriori pruning: a
    triple (x,y,z) is counted ONLY if all three of its sub-pairs are
    already frequent — the downward-closure property that keeps
    candidate volume polynomial at 100 TB (MLlib's FPGrowth optimizes
    the same lattice walk; the DataFrame join form keeps every count an
    exact oracle-checkable integer).

    Scale shape: baskets are ≤7 items (TPC-H), so the pair expansion is
    bounded 21×/order; the triple closure joins candidate pairs back to
    baskets on equi-keys only, and the frequent-pair set it probes is
    support-thresholded (≪ corpus, broadcastable). Per-size top-k is a
    3-partition window over already-thresholded sets.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    f1 = (
        items.groupBy("pk")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _APRIORI_MINSUP)
    )
    a = items.alias("a")
    b = items.alias("b")
    p2 = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .join(f1.select(F.col("pk").alias("fa")), F.col("a.pk") == F.col("fa"), "left_semi")
        .join(f1.select(F.col("pk").alias("fb")), F.col("b.pk") == F.col("fb"), "left_semi")
        .groupBy(F.col("a.pk").alias("x"), F.col("b.pk").alias("y"))
        .agg(F.count(F.lit(1)).alias("sup"))
    )
    f2 = p2.filter(F.col("sup") >= _APRIORI_MINSUP).localCheckpoint(eager=False)
    # Triple candidates: extend each frequent pair (x,y) with basket items
    # z > y, require co-occurrence of x in the same basket, then prune by
    # downward closure ((x,z) and (y,z) both frequent) BEFORE support
    # thresholding.
    b2 = items.alias("b2")
    c = items.alias("c")
    a2 = items.alias("a2")
    c3 = (
        f2.join(b2, F.col("b2.pk") == F.col("y"))
        .join(c, (F.col("c.ok") == F.col("b2.ok")) & (F.col("c.pk") > F.col("y")))
        .join(a2, (F.col("a2.ok") == F.col("b2.ok")) & (F.col("a2.pk") == F.col("x")))
        .join(
            f2.select(F.col("x").alias("px"), F.col("y").alias("py")).alias("xz"),
            (F.col("xz.px") == F.col("x")) & (F.col("xz.py") == F.col("c.pk")),
            "left_semi",
        )
        .join(
            f2.select(F.col("x").alias("qx"), F.col("y").alias("qy")).alias("yz"),
            (F.col("yz.qx") == F.col("y")) & (F.col("yz.qy") == F.col("c.pk")),
            "left_semi",
        )
        .groupBy("x", "y", F.col("c.pk").alias("z"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _APRIORI_MINSUP)
    )
    all_sets = (
        f1.select(F.col("pk").cast("string").alias("itemset"),
                  F.lit(1).alias("sz"), "sup")
        .unionAll(
            f2.select(
                F.concat_ws("|", "x", "y").alias("itemset"),
                F.lit(2).alias("sz"), "sup",
            )
        )
        .unionAll(
            c3.select(
                F.concat_ws("|", "x", "y", "z").alias("itemset"),
                F.lit(3).alias("sz"), "sup",
            )
        )
    )
    ranked = all_sets.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("sz").orderBy(F.col("sup").desc(), "itemset")
        ),
    ).filter(F.col("rk") <= _APRIORI_TOPN)
    return ranked.select(
        "itemset",
        F.col("sz").cast("long").alias("sz"),
        F.col("sup").cast("long").alias("support"),
        F.col("rk").cast("long").alias("rk"),
    ).orderBy("sz", "rk")
