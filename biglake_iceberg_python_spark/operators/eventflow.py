"""Event-flow analytics over the ``events`` table: funnel conversion,
cohort retention, and time-series gap-fill (LOCF).

No reference file:line exists (the reference executes no analytics —
SURVEY.md §2A); these are contract-mandated [EXT] operators, the product-
analytics battery every event warehouse ships. The Spark shapes are the
design:

  * funnel — stage tables shrink monotonically (view ⊇ click ⊇ purchase
    converters); every join and groupBy keys on ``user_id``, so one hash
    partitioning is reused across all three stages and AQE broadcasts the
    shrinking right sides. No window over the full event set.
  * cohort retention — distinct (user, week) first (the big shuffle,
    map-side combined), then per-user min and the offset rollup ride the
    same user_id partitioning.
  * gap-fill — the dense calendar grid is generated from the per-key
    BOUNDS table (one row per user), never materialized driver-side:
    ``sequence()`` + ``explode`` is map-side row generation, and the LOCF
    window runs on the same (user_id, day) partitioning the left join
    already established.

All three use integer epoch arithmetic on second-truncated NTZ timestamps
(cross-engine cookbook): gap/window boundaries agree with DuckDB under any
driver session timezone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    EVENT_VALUE_CAP,
    cents,
    oracle_cents,
    oracle_epoch_s,
    oracle_events,
    spark_epoch_s,
)
from biglake_iceberg_python_spark.functions.twophase import two_phase_rank
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

_WEEK_S = 7 * 86400
_DAY_S = 86400


def _timed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with a defined event-time — the input every query in this
    module computes over. A row with NULL ts cannot be sessionized,
    bucketed, ordered, or watermarked; worse, it makes results
    ENGINE-DIVERGENT (Spark windows order NULLS FIRST, DuckDB NULLS
    LAST; epoch arithmetic yields NULL keys that each engine routes
    differently) and SESSION-DEPENDENT on the Spark side. So they are
    dead-lettered at load, exactly as the
    streaming surface drops them at ingestion — every oracle in this
    module carries the matching `WHERE ts IS NOT NULL` wrap."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        # Non-finite AND out-of-range measures reduce to NULL — the
        # missing-measure class this module already handles symmetrically:
        # a FINITE 5e16 value overflows the DECIMAL(18,2) cents cast
        # (DuckDB and ANSI raise, Spark ANSI-off silently NULLs), and an
        # in-range 9e14 value overflows the int64 cents sums (DuckDB's
        # HUGEINT-to-BIGINT cast raises, Spark wraps). The cap and its
        # oracle twin (`exprs.oracle_events`) sit next to oracle_dsum.
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


def _events_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _timed_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.expr(spark_epoch_s()).cast("long").alias("es"),
    )


@query(
    "funnel_conversion",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, {oracle_epoch_s()} AS es FROM {oracle_events()} events
    ), s1 AS (
      SELECT user_id, MIN(es) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(es) AS t2, MIN(t1) AS t1
      FROM e JOIN s1 USING (user_id)
      WHERE event_type = 'click' AND es > t1 GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(es) AS t3, MIN(t2) AS t2
      FROM e JOIN s2 USING (user_id)
      WHERE event_type = 'purchase' AND es > t2 GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(NULL AS DOUBLE) AS avg_step_s FROM s1
    UNION ALL
    SELECT '2_click', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(t2 - t1) AS DOUBLE) / COUNT(*) FROM s2
    UNION ALL
    SELECT '3_purchase', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(t3 - t2) AS DOUBLE) / COUNT(*) FROM s3
    """,
    tags=("events", "funnel", "join"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly after their
    first view, then purchased strictly after that click — per-stage user
    counts plus mean step latency.

    Each stage is min-timestamp-after-previous-stage: a groupBy on user_id
    joined to the prior (already aggregated, strictly smaller) stage table.
    All shuffles share the user_id key, so the three stages reuse one
    partitioning; the per-stage rollup to 3 rows is the only tiny exchange.
    Latency is an exact integer sum divided once as double, so both engines
    produce the same bits.
    """
    e = _events_es(spark, sf_dir)
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("es").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("es") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("es").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("es") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("es").alias("t3"), F.min("t2").alias("t2"))
    )

    def stage_row(df: DataFrame, label: str, lat) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_users"),
            lat.alias("avg_step_s"),
        ).select(F.lit(label).alias("stage"), "n_users", "avg_step_s")

    null_lat = F.max(F.lit(None)).cast("double")
    return (
        stage_row(s1, "1_view", null_lat)
        .unionAll(
            stage_row(
                s2,
                "2_click",
                F.sum(F.col("t2") - F.col("t1")).cast("double")
                / F.count(F.lit(1)),
            )
        )
        .unionAll(
            stage_row(
                s3,
                "3_purchase",
                F.sum(F.col("t3") - F.col("t2")).cast("double")
                / F.count(F.lit(1)),
            )
        )
    )


@query(
    "cohort_retention",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT user_id, ({oracle_epoch_s()}) // {_WEEK_S} AS w
      FROM {oracle_events()} events
    ), cohort AS (
      SELECT user_id, MIN(w) AS cw FROM e GROUP BY user_id
    )
    SELECT
      CAST(cw AS BIGINT) AS cohort_week,
      CAST(w - cw AS BIGINT) AS week_offset,
      CAST(COUNT(*) AS BIGINT) AS n_users
    FROM e JOIN cohort USING (user_id)
    GROUP BY cw, w - cw
    """,
    tags=("events", "cohort", "retention"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active epoch-week,
    counted in each subsequent week they return.

    distinct(user, week) first — the only pass over the raw events, with
    map-side combine — then the per-user cohort min and the
    (cohort, offset) rollup both ride the same user_id partitioning. Week
    index is integer epoch-seconds DIV 604800: no calendar/TZ semantics to
    disagree on across engines.
    """
    e = (
        _events_es(spark, sf_dir)
        .select("user_id", (F.col("es") / _WEEK_S).cast("long").alias("w"))
        .distinct()
    )
    cohort = e.groupBy("user_id").agg(F.min("w").alias("cw"))
    return (
        e.join(cohort, "user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "ts_gap_fill_locf",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ({oracle_epoch_s()}) // {_DAY_S} AS day
      FROM {oracle_events()} events
    ), daily AS (
      SELECT user_id, day, COUNT(*) AS n_ev FROM e GROUP BY user_id, day
    ), bounds AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
      GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM bounds
    ), j AS (
      SELECT g.user_id, g.day, d.n_ev
      FROM grid g LEFT JOIN daily d USING (user_id, day)
    )
    SELECT
      user_id,
      CAST(day AS BIGINT) AS day,
      CAST(last_value(n_ev IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS n_ev_filled,
      CAST(CASE WHEN n_ev IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_filled
    FROM j
    """,
    tags=("events", "timeseries", "gapfill", "window"),
)
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily series with last-observation-carried-forward:
    generate the missing calendar days between each user's first and last
    active day and forward-fill the daily event count.

    The calendar grid comes from ``sequence(d0, d1)`` exploded over the
    per-user BOUNDS table — one input row per user, so grid generation is
    map-side and never collects a calendar to the driver. The left join
    back to the daily aggregate and the LOCF window
    (``last(ignorenulls=True)``) share the user_id hash partitioning: one
    shuffle for the daily rollup, one for the join/window pair. Day index
    is integer epoch-seconds DIV 86400 (TZ-free on both engines).
    """
    e = _events_es(spark, sf_dir).select(
        "user_id", (F.col("es") / _DAY_S).cast("long").alias("day")
    )
    daily = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n_ev"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        "day",
        F.last("n_ev", ignorenulls=True).over(w).cast("long").alias(
            "n_ev_filled"
        ),
        F.when(F.col("n_ev").isNull(), 1).otherwise(0).cast("int").alias(
            "is_filled"
        ),
    )


@query(
    "events_transition_matrix",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, {oracle_epoch_s()} AS es
      FROM {oracle_events()} events
    ), pairs AS (
      SELECT
        LAG(event_type) OVER (
          PARTITION BY user_id ORDER BY es, event_id) AS prev_type,
        event_type AS next_type
      FROM e
    ), c AS (
      SELECT prev_type, next_type, COUNT(*) AS n_transitions
      FROM pairs WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT
      prev_type, next_type,
      CAST(n_transitions AS BIGINT) AS n_transitions,
      CAST(n_transitions AS DOUBLE)
        / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE)
        AS p
    FROM c
    """,
    tags=("events", "markov", "window"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    count and row-normalized probability of each (prev, next) event-type
    pair.

    The lag window and the pair count both key on user_id (one exchange
    carries the sequence ordering); the transition table itself is
    |types|² rows — 25 here, tiny at any corpus scale — so the
    normalizing per-prev-type window is effectively free. Probabilities
    divide two exact integers once as double, so both engines emit the
    same bits.
    """
    e = _timed_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(spark_epoch_s()).cast("long").alias("es"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    norm = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(norm).cast("double")
        ).alias("p"),
    )


@query(
    "anomaly_zscore_daily",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ({oracle_epoch_s()}) // {_DAY_S} AS day
      FROM {oracle_events()} events
    ), daily AS (
      SELECT user_id, day, COUNT(*) AS n_ev FROM e GROUP BY user_id, day
    ), stats AS (
      SELECT user_id,
             COUNT(*) AS n,
             SUM(n_ev) AS s1,
             SUM(n_ev * n_ev) AS s2
      FROM daily GROUP BY user_id
    ), scored AS (
      SELECT
        d.user_id, d.day, d.n_ev,
        (CAST(d.n_ev AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n)
          / sqrt((CAST(s.s2 AS DOUBLE)
                  - CAST(s.s1 AS DOUBLE) * s.s1 / s.n) / (s.n - 1)) AS z
      FROM daily d JOIN stats s ON d.user_id = s.user_id
      WHERE s.n > 1
        AND (CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * s.s1 / s.n) > 0
    )
    SELECT user_id, CAST(day AS BIGINT) AS day,
           CAST(n_ev AS BIGINT) AS n_ev, z
    FROM scored WHERE abs(z) > 2.0
    """,
    tags=("events", "anomaly", "timeseries"),
)
def anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily-activity anomaly detection: days whose event count
    sits more than 2 sample standard deviations from that user's mean.

    The statistics come from EXACT integer moments (count, sum, sum of
    squares — all BIGINT, map-side combined in one user_id shuffle), and
    mean/variance/z are derived from those integers with an identical
    fixed sequence of double operations in both engines — so the z-scores
    hash-match bit-for-bit, which a naive ``stddev_samp`` over doubles
    (order-dependent partial sums) never would. The stats-to-daily join
    re-uses the user_id partitioning.
    """
    e = _events_es(spark, sf_dir).select(
        "user_id", (F.col("es") / _DAY_S).cast("long").alias("day")
    )
    daily = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n_ev"))
    stats = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_ev").alias("s1"),
        F.sum(F.col("n_ev") * F.col("n_ev")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    ssq = F.col("s2").cast("double") - F.col("s1").cast("double") * F.col(
        "s1"
    ) / F.col("n")
    z = (F.col("n_ev").cast("double") - mean) / F.sqrt(
        ssq / (F.col("n") - 1)
    )
    return (
        daily.join(stats, "user_id")
        .filter((F.col("n") > 1) & (ssq > 0))
        .select("user_id", "day", "n_ev", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.0)
    )


@query(
    "events_dau_wau_stickiness",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, ({oracle_epoch_s()}) // {_DAY_S} AS day
      FROM {oracle_events()} events
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM ud GROUP BY day
    ), cover AS (
      SELECT DISTINCT user_id, day + off AS w_day
      FROM ud, (SELECT unnest(generate_series(0, 6)) AS off)
    ), wau AS (
      SELECT w_day, COUNT(*) AS wau FROM cover GROUP BY w_day
    )
    SELECT
      CAST(d.day AS BIGINT) AS day,
      CAST(d.dau AS BIGINT) AS dau,
      CAST(w.wau AS BIGINT) AS wau,
      CAST(d.dau AS DOUBLE) / w.wau AS stickiness
    FROM dau d JOIN wau w ON d.day = w.w_day
    """,
    tags=("events", "engagement", "dau-wau"),
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily engagement stickiness: DAU / trailing-7-day WAU per day.

    Sliding-window COUNT(DISTINCT) has no distributed builtin; the scale
    shape is the cover-set expansion — each (user, active-day) pair emits
    the 7 window-end days it makes the user 'weekly-active' for (a fixed
    7× map-side fanout of the already-distinct user-day table, NOT of raw
    events), then WAU is a plain distinct count per day. Every shuffle
    keys on (user, day) or day; stickiness divides two exact integers.
    """
    ud = (
        _events_es(spark, sf_dir)
        .select("user_id", (F.col("es") / _DAY_S).cast("long").alias("day"))
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    cover = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("w_day"),
    ).distinct()
    wau = cover.groupBy("w_day").agg(F.count(F.lit(1)).alias("wau"))
    return dau.join(wau, dau.day == wau.w_day).select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


@query(
    "agg_sketch_merge_rollup",
    oracle=None,  # sketch estimates are engine-specific → rows-only;
    # tests/test_operators.py asserts <5% error vs exact weekly distincts
    # AND that the merged estimate equals re-sketching from scratch.
    tags=("agg", "sketch", "mergeable", "approx"),
)
def agg_sketch_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch re-aggregation: per-DAY HLL sketches of the active
    user set, UNIONED up to per-week distinct-user estimates without
    touching the raw events again.

    This is THE pattern that makes distinct counting tractable at 100 TB:
    the expensive pass happens once (fixed-size sketch per day, map-side
    partial, one shuffle on day); every coarser grain (week here — month,
    all-time in practice) is a cheap union over the tiny per-day sketch
    table. Re-aggregating raw data per grain — what count_distinct per
    week would do — re-scans the corpus once per grain.
    """
    e = _events_es(spark, sf_dir).select(
        "user_id", (F.col("es") / _DAY_S).cast("long").alias("day")
    )
    daily = e.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        daily.groupBy((F.col("day") / 7).cast("long").alias("week"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


@query(
    "agg_hll_set_algebra",
    oracle=None,  # sketch estimates are engine-specific → rows-only;
    # tests/test_operators.py bounds each estimate against exact distincts
    # and the inclusion-exclusion intersection against the exact overlap.
    tags=("agg", "sketch", "approx", "set-algebra"),
)
def agg_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: per-week purchaser/error audiences as HLL
    sketches, overlap derived by inclusion-exclusion (|P∩E| ≈ |P| + |E| −
    |P∪E|) — the audience-overlap question answered WITHOUT ever
    shuffling user sets against each other.

    This is the second half of the mergeable-sketch story
    (agg_sketch_merge_rollup is re-aggregation; this is cross-set
    algebra): at 100 TB the per-segment sketches are tiny fixed-size
    state, any pairwise overlap query runs on sketches alone, and the
    scalar hll_union keeps it register-wise exact relative to unioned
    sketching. Caveat encoded in the test: inclusion-exclusion error is
    additive in the operand errors, so tiny intersections of huge sets
    need a bigger lgConfigK (or an exact join) — estimates carry the
    corpus-relative bound, not an intersection-relative one.
    """
    e = _events_es(spark, sf_dir).select(
        "user_id",
        "event_type",
        (F.col("es") / _WEEK_S).cast("long").alias("week"),
    )
    per = (
        e.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy("week", "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .localCheckpoint(eager=False)
    )
    p = per.filter(F.col("event_type") == "purchase").select("week", F.col("sk").alias("skp"))
    er = per.filter(F.col("event_type") == "error").select("week", F.col("sk").alias("ske"))
    both = p.join(er, "week")
    est_p = F.hll_sketch_estimate("skp")
    est_e = F.hll_sketch_estimate("ske")
    est_u = F.hll_sketch_estimate(F.hll_union("skp", "ske"))
    return both.select(
        "week",
        est_p.alias("est_purchasers"),
        est_e.alias("est_errorers"),
        est_u.alias("est_union"),
        (est_p + est_e - est_u).alias("est_intersection"),
        (
            (est_p + est_e - est_u).cast("double")
            / F.greatest(est_u, F.lit(1)).cast("double")
        ).alias("est_jaccard"),
    )


@query(
    "events_trend_slope",
    oracle=f"""
    WITH pts AS (
      SELECT
        event_type,
        date_diff('second', TIMESTAMP '2024-01-01 00:00:00',
                  date_trunc('second', ts)) AS x,
        {oracle_cents('value')} AS y
      FROM {oracle_events()} events
    ), s AS (
      SELECT
        event_type,
        CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
        CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
        CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
        CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
      FROM pts GROUP BY event_type
    )
    SELECT
      event_type,
      CAST(n AS BIGINT) AS n_events,
      CAST(CAST(CAST(n * sxy - sx * sy AS HUGEINT) * 1000000000
                // NULLIF(CAST(n * sxx - sx * sx AS HUGEINT), 0)
                AS BIGINT) AS DOUBLE) / 1.0e9
        AS slope_cents_per_s
    FROM s
    """,
    tags=("events", "timeseries", "regression", "trend"),
)
def events_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of event value over time — the metric-drift
    detector (is purchase value creeping up? error cost growing?) that
    complements the z-score anomaly pass: least-squares slope in
    cents-per-second from the normal equations.

    Exactness: x is integer seconds since the corpus epoch, y integer
    cents (the 2-decimal money values scale exactly); all five regression
    sums accumulate in DECIMAL(38,0). The slope is quantized to exact
    integer NANO-cents-per-second by truncating integer division
    (Spark ``DIV`` on DECIMAL ≡ DuckDB HUGEINT ``//`` — both truncate
    toward zero, probed on negatives), then scaled by 1e-9 as the single
    IEEE op on a small exact integer. The former form divided the two
    DECIMAL(38,0) sums as doubles — but at sf0.1 the sums exceed 2^53
    (num ~1.7e16, den ~2.2e20) and the DECIMAL→DOUBLE casts round
    DIFFERENTLY per engine (a one-ulp slope divergence at sf0.1). Same class as the
    sql_temp_function post-mortem: no >2^53 decimal-to-double cast at a
    hash boundary. Budget: |num|·1e9 < 1e38 holds to ~1e11 events/group
    at the domain's value/time ranges. One map-side-combined shuffle on
    event_type.
    """
    e = _timed_events(spark, sf_dir)
    pts = e.select(
        "event_type",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00',"
            " date_trunc('second', ts))"
        ).alias("x"),
        # value is 2-decimal-aligned; deciding the ×100 integerization on
        # DECIMAL keeps it oracle-version-independent (see scalar_math).
        cents("value").alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(xd * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        (
            F.expr(
                "(n * sxy - sx * sy) * 1000000000"
                " DIV nullif(n * sxx - sx * sx, 0)"
            ).cast("double")
            / F.lit(1.0e9)
        ).alias("slope_cents_per_s"),
    )


@query(
    "events_sequence_motif",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, {oracle_epoch_s()} AS es,
             CASE event_type
               WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
               WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
               ELSE 'e' END AS ch
      FROM {oracle_events()} events
    ), seqs AS (
      SELECT user_id, string_agg(ch, '' ORDER BY es, event_id) AS seq
      FROM e GROUP BY user_id
    )
    SELECT
      user_id,
      CAST(length(seq) AS BIGINT) AS n_events,
      CAST(len(regexp_extract_all(seq, 'vc+p')) AS BIGINT) AS n_buy_paths,
      CAST(len(regexp_extract_all(seq, 'ee+')) AS BIGINT) AS n_error_bursts
    FROM seqs
    """,
    tags=("events", "sequence", "pattern", "motif"),
)
def events_sequence_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern mining over per-user event streams — the
    MATCH_RECOGNIZE emulation: each user's time-ordered events become a
    character string (one char per event type) and row-pattern motifs
    become REGEXES over it — ``vc+p`` (view, ≥1 clicks, purchase, strictly
    contiguous) counts completed buy journeys, ``ee+`` counts error
    bursts. Both engines scan regexes leftmost-non-overlapping, so counts
    agree exactly; ordering ties inside one second break on event_id in
    both.

    Spark shape: ONE shuffle on user_id builds all sequences
    (collect_list → array_sort on the (es, event_id) struct prefix — no
    window pass needed), then the regex counting is per-row codegen. A
    user's sequence is bounded by their event count, so rows stay small;
    at 100 TB the shuffle carries one char per event — the cheapest
    possible encoding of the journey — and motif queries over the
    sequence table are scan-speed regex evaluations, the standard
    funnel-DSL backend shape.
    """
    e = _timed_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.expr(spark_epoch_s()).cast("long").alias("es"),
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
        .alias("ch"),
    )
    seqs = e.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("es", "event_id", "ch"))),
                lambda x: x["ch"],
            ),
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        F.regexp_count("seq", F.lit("vc+p")).cast("long").alias("n_buy_paths"),
        F.regexp_count("seq", F.lit("ee+")).cast("long").alias("n_error_bursts"),
    )


@query(
    "agg_kll_quantile_merge",
    oracle=None,  # KLL compaction is randomized (estimates vary run to
    # run within the rank-error bound), so there is no stable hash in
    # EITHER engine; tests/test_operators.py bounds every weekly estimate
    # against the exact percentile's neighborhood instead.
    tags=("agg", "sketch", "mergeable", "approx", "quantile"),
)
def agg_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches — the KLL half of the sketch-rollup
    story (agg_sketch_merge_rollup covers distinct counting): per-day KLL
    sketches of the event value are folded up to per-week p50/p90/p99
    estimates without re-touching raw events.

    Exact percentiles don't re-aggregate (the weekly median is not a
    function of daily medians — each grain needs its own full pass), so
    at 100 TB latency-percentile dashboards run on exactly this shape:
    one expensive pass builds fixed-size per-day sketches, every coarser
    grain is a fold over the tiny sketch table. Spark 4 ships KLL as
    binary scalar merge (not an agg), so the weekly fold is
    ``aggregate(collect_list(sk))`` over ≤7 sketches per group — the
    fold is per-group codegen over a days-sized table, never a wide
    shuffle. Estimates carry KLL's ~1.7% rank-error bound (k=200
    default); n is exact and is asserted against the true weekly count.
    """
    e = _timed_events(spark, sf_dir).select(
        "value",
        (F.expr(spark_epoch_s()).cast("long") / _DAY_S).cast("long").alias("day"),
    )
    daily = e.groupBy("day").agg(
        F.kll_sketch_agg_double("value").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wk = daily.groupBy((F.col("day") / 7).cast("long").alias("week")).agg(
        F.collect_list("sk").alias("sks"),
        F.sum("n_events").alias("n_events"),
    )
    merged = wk.select(
        "week",
        "n_events",
        F.aggregate(
            F.slice("sks", 2, 1_000_000),
            F.element_at("sks", 1),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("msk"),
    )
    return merged.select(
        "week",
        F.kll_sketch_get_quantile_double("msk", F.lit(0.5)).alias("p50_est"),
        F.kll_sketch_get_quantile_double("msk", F.lit(0.9)).alias("p90_est"),
        F.kll_sketch_get_quantile_double("msk", F.lit(0.99)).alias("p99_est"),
        F.kll_sketch_get_n_double("msk").cast("long").alias("n_from_sketch"),
        F.col("n_events").cast("long").alias("n_exact"),
    )


# EWMA decay weights: floor(1e6 · 0.7^k) for lag k, precomputed once in
# Python and inlined as INTEGER literals into both engines — so neither
# engine ever evaluates pow() and the weighted sums stay exact int64.
_EWMA_W = [1000000, 700000, 489999, 342999, 240099, 168069, 117648]


@query(
    "ts_ewma_decay",
    oracle=f"""
    WITH daily AS (
      SELECT
        user_id,
        ({oracle_epoch_s()}) // {_DAY_S} AS day,
        SUM({oracle_cents('value')}) AS v
      FROM {oracle_events()} events
      GROUP BY user_id, ({oracle_epoch_s()}) // {_DAY_S}
    ), w AS (
      SELECT * FROM (VALUES
        {", ".join(f"({k}, {wt})" for k, wt in enumerate(_EWMA_W))}
      ) AS t(k, wt)
    ), cover AS (
      SELECT d.user_id, d.day + w.k AS t_day, w.wt * d.v AS wv, w.wt AS wt
      FROM daily d, w
    )
    SELECT
      user_id,
      CAST(t_day AS BIGINT) AS t_day,
      CAST(COUNT(*) AS BIGINT) AS n_days,
      CAST(SUM(wt) AS BIGINT) AS weight_sum,
      CAST(SUM(wv) AS BIGINT) AS weighted_cents,
      CAST(SUM(wv) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE) / 100.0 AS ewma_value
    FROM cover
    GROUP BY user_id, t_day
    """,
    tags=("events", "timeseries", "ewma"),
)
def ts_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of per-user daily spend
    (α = 0.7, 7-day horizon) — the smoothing signal behind trend monitors
    and decay-weighted user activity scores.

    EWMA is a sequential recurrence, which distributes badly; truncated at
    7 lags it becomes a COVER-SET expansion (the DAU/WAU trick): each
    daily total broadcasts itself forward to the next 7 calendar days with
    a precomputed integer weight, and one aggregation per (user, target
    day) sums weighted contributions. Weights are floor(1e6·α^k) INTEGER
    LITERALS — pow() never runs in either engine — so numerator and
    denominator are exact int64 and only the final ratio is a double
    (identical op both sides). Days with no trailing activity still emit
    decay-tail rows (weight_sum < 1e6 flags them).

    100 TB: the expansion is over the DAILY ROLLUP (≪ raw events), 7× a
    per-user-day table; both aggregations shuffle on user-prefixed keys.
    """
    e = _timed_events(spark, sf_dir).select(
        "user_id",
        (F.expr(spark_epoch_s()).cast("long") / _DAY_S).cast("long").alias("day"),
        cents("value").alias("cents"),
    )
    daily = e.groupBy("user_id", "day").agg(F.sum("cents").alias("v"))
    lags = F.array(
        *[
            F.struct(F.lit(k).alias("k"), F.lit(wt).alias("wt"))
            for k, wt in enumerate(_EWMA_W)
        ]
    )
    cover = daily.select(
        "user_id", "day", "v", F.explode(lags).alias("lag")
    ).select(
        "user_id",
        (F.col("day") + F.col("lag.k")).alias("t_day"),
        (F.col("lag.wt") * F.col("v")).alias("wv"),
        F.col("lag.wt").alias("wt"),
    )
    return cover.groupBy("user_id", "t_day").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("wt").cast("long").alias("weight_sum"),
        F.sum("wv").cast("long").alias("weighted_cents"),
        (
            F.sum("wv").cast("double") / F.sum("wt").cast("double") / F.lit(100.0)
        ).alias("ewma_value"),
    )


@query(
    "events_ab_welch_ttest",
    oracle=f"""
    WITH m AS (
      SELECT
        event_type,
        COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n0,
        COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n1,
        SUM({oracle_cents('value')})
          FILTER (WHERE user_id % 2 = 0) AS s0,
        SUM({oracle_cents('value')})
          FILTER (WHERE user_id % 2 = 1) AS s1,
        SUM({oracle_cents('value')}
          * {oracle_cents('value')})
          FILTER (WHERE user_id % 2 = 0) AS q0,
        SUM({oracle_cents('value')}
          * {oracle_cents('value')})
          FILTER (WHERE user_id % 2 = 1) AS q1
      FROM {oracle_events()} events
      GROUP BY event_type
    )
    -- q0/q1 (sums of squared cents) exceed 2^53 on amplified
    -- in-contract data: VARCHAR-routed conversion is correctly rounded
    -- on any DuckDB build (native INT128->double is not), matching
    -- Spark's path. s0/s1 stay <= ~1e11.
    SELECT
      event_type,
      CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
      (CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1) / 100.0
        AS mean_diff,
      (CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1)
        / sqrt(((CAST(CAST(q0 AS VARCHAR) AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)) / n0
             + ((CAST(CAST(q1 AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)
        AS t_stat,
      (((CAST(CAST(q0 AS VARCHAR) AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)) / n0
       + ((CAST(CAST(q1 AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)
      * (((CAST(CAST(q0 AS VARCHAR) AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)) / n0
       + ((CAST(CAST(q1 AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)
      / ( (((CAST(CAST(q0 AS VARCHAR) AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)) / n0)
          * (((CAST(CAST(q0 AS VARCHAR) AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)) / n0)
          / (n0 - 1)
        + (((CAST(CAST(q1 AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)
          * (((CAST(CAST(q1 AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)
          / (n1 - 1) )
        AS welch_df
    FROM m
    """,
    tags=("events", "experimentation", "statistics"),
)
def events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's unequal-variance t-statistic and
    Welch–Satterthwaite degrees of freedom for per-event-type spend,
    variant = user_id parity (the deterministic hash-bucket assignment an
    experimentation platform uses).

    Both variants' count/sum/sum-of-squares accumulate as EXACT integer
    cents in ONE conditional aggregation pass (no per-variant scans, no
    join); means, pooled standard error, t, and df derive from those
    integers through an identical double-op sequence in both engines, so
    the statistics hash-match bit-for-bit — the same exact-moment recipe
    as `anomaly_zscore_daily` and `agg_corr_covar`.

    100 TB: one map-side-combined shuffle of |event_types| groups; this is
    the cheapest possible experiment readout and it is already exact.
    """
    e = _timed_events(spark, sf_dir)
    c = cents("value")
    v0 = F.col("user_id") % 2 == 0
    v1 = F.col("user_id") % 2 == 1
    m = e.groupBy("event_type").agg(
        F.count(F.when(v0, 1)).alias("n0"),
        F.count(F.when(v1, 1)).alias("n1"),
        F.sum(F.when(v0, c)).alias("s0"),
        F.sum(F.when(v1, c)).alias("s1"),
        F.sum(F.when(v0, c * c)).alias("q0"),
        F.sum(F.when(v1, c * c)).alias("q1"),
    )
    s0d, s1d = F.col("s0").cast("double"), F.col("s1").cast("double")
    q0d, q1d = F.col("q0").cast("double"), F.col("q1").cast("double")
    # Every divisor below is EXACTLY zero on degenerate-but-legal inputs —
    # n−1 = 0 for a singleton variant, n = 0 for a one-variant group,
    # se = 0 for zero-variance spend — and Spark 4's ANSI mode raises
    # DIVIDE_BY_ZERO even for DOUBLE/DOUBLE where DuckDB (and ANSI-off
    # Spark) return NULL. try_divide is NULL on 0-divisor in BOTH modes
    # and value-identical otherwise (the tpch_q2 recipe).
    se0 = F.try_divide(
        F.try_divide(
            q0d - F.try_divide(s0d * F.col("s0"), F.col("n0")),
            F.col("n0") - 1,
        ),
        F.col("n0"),
    )
    se1 = F.try_divide(
        F.try_divide(
            q1d - F.try_divide(s1d * F.col("s1"), F.col("n1")),
            F.col("n1") - 1,
        ),
        F.col("n1"),
    )
    mean_diff = F.try_divide(s0d, F.col("n0")) - F.try_divide(
        s1d, F.col("n1")
    )
    se = se0 + se1
    return m.select(
        "event_type",
        "n0",
        "n1",
        (mean_diff / F.lit(100.0)).alias("mean_diff"),
        F.try_divide(mean_diff, F.sqrt(se)).alias("t_stat"),
        F.try_divide(
            se * se,
            F.try_divide(se0 * se0, F.col("n0") - 1)
            + F.try_divide(se1 * se1, F.col("n1") - 1),
        ).alias("welch_df"),
    )


@query(
    "events_cumulative_uniques",
    oracle=f"""
    WITH first_hour AS (
      SELECT user_id, MIN(({oracle_epoch_s()}) // 3600) AS hour
      FROM {oracle_events()} events GROUP BY user_id
    ), hourly_new AS (
      SELECT hour, COUNT(*) AS new_users FROM first_hour GROUP BY hour
    )
    SELECT
      CAST(hour AS BIGINT) AS hour,
      CAST(new_users AS BIGINT) AS new_users,
      CAST(SUM(new_users) OVER (ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cumulative_users
    FROM hourly_new
    """,
    tags=("events", "growth", "timeseries"),
)
def events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth curve: users acquired per day and the running total of
    distinct users ever seen (hourly grain — users cluster in the first
    hours of the synthetic window, so hours keep the curve non-degenerate)
    — the cumulative-distinct metric a naive COUNT(DISTINCT) OVER cannot
    express scalably.

    Re-expression: cumulative distinct = cumulative sum of FIRST
    APPEARANCES. min(hour) per user is one map-side-combined shuffle on
    user_id; the per-hour rollup and the running-sum window then operate
    on |hours| rows (hundreds), so the global window is trivially cheap —
    the raw event set is never windowed.
    """
    e = _timed_events(spark, sf_dir).select(
        "user_id",
        (F.expr(spark_epoch_s()).cast("long") / 3600).cast("long").alias("hour"),
    )
    first_hour = e.groupBy("user_id").agg(F.min("hour").alias("hour"))
    hourly_new = first_hour.groupBy("hour").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return hourly_new.select(
        "hour",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@query(
    "events_user_entropy",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM {oracle_events()} events GROUP BY user_id, event_type
    ), t AS (
      SELECT user_id, SUM(cnt) AS n, COUNT(*) AS n_types FROM c GROUP BY user_id
    ), terms AS (
      SELECT
        c.user_id, t.n, t.n_types,
        CAST(round(1e6 * (CAST(c.cnt AS DOUBLE) / t.n)
                   * ln(CAST(t.n AS DOUBLE) / c.cnt)) AS BIGINT) AS h_micro
      FROM c JOIN t ON c.user_id = t.user_id
    )
    SELECT
      user_id,
      CAST(MAX(n) AS BIGINT) AS n_events,
      CAST(MAX(n_types) AS BIGINT) AS n_types,
      CAST(SUM(h_micro) AS BIGINT) AS entropy_micro_nats
    FROM terms
    GROUP BY user_id
    """,
    tags=("events", "entropy", "statistics"),
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy of each user's event-type
    distribution — the standard engagement-breadth signal (0 for
    single-action users, ln|types| for uniform explorers).

    Each −p·ln p term is quantized to integer micro-nats BEFORE the
    per-user sum (the `text_lm_perplexity` order-independence recipe), so
    the summed entropy is exact int64 and hash-matches. ln(n/cnt) is
    irrational except at cnt = n, where the term is exactly 0 — the
    documented measure-zero exemption from the decimal-round rule.

    100 TB: two aggregations sharing the user_id key prefix plus a join
    on the same key — one logical exchange of (user, type) counts; never
    a window, never raw events twice.
    """
    e = _timed_events(spark, sf_dir)
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.groupBy("user_id").agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("n_types")
    )
    terms = c.join(t, "user_id").select(
        "user_id",
        "n",
        "n_types",
        F.round(
            F.lit(1e6)
            * (F.col("cnt").cast("double") / F.col("n"))
            * F.log(F.col("n").cast("double") / F.col("cnt"))
        )
        .cast("long")
        .alias("h_micro"),
    )
    return terms.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.max("n_types").cast("long").alias("n_types"),
        F.sum("h_micro").cast("long").alias("entropy_micro_nats"),
    )


@query(
    "events_path_trigrams",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS nxt1,
             LEAD(event_type, 2) OVER w AS nxt2
      FROM (SELECT user_id, event_type, ({oracle_epoch_s()}) AS es, event_id
            FROM {oracle_events()} events
            WHERE event_type IS NOT NULL)
      WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ), tri AS (
      SELECT event_type || '>' || nxt1 || '>' || nxt2 AS path
      FROM ordered WHERE nxt2 IS NOT NULL
    ), counts AS (
      SELECT path, COUNT(*) AS n_paths FROM tri GROUP BY path
    )
    SELECT path, CAST(n_paths AS BIGINT) AS n_paths
    FROM counts
    ORDER BY n_paths DESC, path
    LIMIT 15
    """,
    tags=("events", "paths", "sequence"),
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey trigrams: the 15 most common 3-step event paths —
    the Sankey/flow-diagram input that sits between the Markov transition
    matrix (memoryless pairs) and full sequence-motif mining (regex).

    One window per user (two LEADs over the SAME ordered window — both
    ride one exchange on user_id with an (es, event_id) total-order
    tiebreak), then a count on the path string and a TakeOrdered top-15.
    Exact integers; the tie on equal counts breaks by path text in both
    engines.

    100 TB: the shuffle carries one short string per event; the trigram
    key space is |types|³ (tiny), so the count aggregation collapses
    map-side.

    A typeless event is not a journey step: NULL event_type rows are excluded
    from the sequence on BOTH engines (unguarded, Spark's concat_ws silently
    SKIPPED the NULL segment producing a 2-step path while DuckDB's `||` NULLed
    the whole path).
    """
    ev = (
        _timed_events(spark, sf_dir)
        .filter(F.col("event_type").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.expr(spark_epoch_s()).cast("long").alias("es"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    tri = (
        ev.select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("nxt1"),
            F.lead("event_type", 2).over(w).alias("nxt2"),
        )
        .filter(F.col("nxt2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "nxt1", "nxt2").alias("path")
        )
    )
    counts = tri.groupBy("path").agg(F.count(F.lit(1)).alias("n_paths"))
    return counts.orderBy(F.col("n_paths").desc(), "path").limit(15)


@query(
    "events_heatmap_hour_dow",
    oracle=f"""
    WITH e AS (
      SELECT
        (((({oracle_epoch_s()}) - ((({oracle_epoch_s()}) % 86400 + 86400) % 86400))
           // 86400 + 4) % 7 + 7) % 7 AS dow,
        ((({oracle_epoch_s()}) % 86400 + 86400) % 86400) // 3600 AS hour,
        {oracle_cents('value')} AS cents
      FROM {oracle_events()} events
    )
    SELECT
      CAST(dow AS BIGINT) AS dow,
      CAST(hour AS BIGINT) AS hour,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM e GROUP BY dow, hour
    """,
    tags=("events", "heatmap", "timeseries"),
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event count and value mass per (day-of-week,
    hour-of-day) cell — the BI staple behind load forecasting and
    anomaly baselines.

    Day-of-week derives from pure epoch arithmetic ((epoch_day + 4) % 7 —
    1970-01-01 was a Thursday), NOT from dayofweek()/calendar functions
    whose week-start and timezone conventions differ by engine and
    session — the same TZ-independence discipline as every epoch
    extraction here. One map-side-combined shuffle of ≤168 cells.
    """
    e = _timed_events(spark, sf_dir).select(
        F.expr(spark_epoch_s()).cast("long").alias("es"),
        cents("value").alias("cents"),
    )
    cells = e.select(
        F.expr("pmod((es - pmod(es, 86400)) DIV 86400 + 4, 7)").alias(
            "dow"
        ),
        F.expr("pmod(es, 86400) DIV 3600").alias("hour"),
        "cents",
    )
    return cells.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@query(
    "events_outlier_mad",
    oracle=f"""
    WITH v AS (
      -- value IS NOT NULL: a MAD over undefined values is undefined; a
      -- NULL cents rank key would also trip two_phase_rank's loud
      -- NULL-key guard on the Spark side.
      SELECT event_type,
             {oracle_cents('value')} AS cents
      FROM {oracle_events()} events
      WHERE value IS NOT NULL
    ), med AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), m AS (
      SELECT event_type, MAX(CASE WHEN rk = (n + 1) // 2 THEN cents END) AS med
      FROM med GROUP BY event_type
    ), dev AS (
      SELECT v.event_type, v.cents, abs(v.cents - m.med) AS adev, m.med
      FROM v JOIN m ON v.event_type = m.event_type
    ), mad_rk AS (
      SELECT event_type, adev, med,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ), mad AS (
      SELECT event_type, MAX(med) AS med,
             MAX(CASE WHEN rk = (n + 1) // 2 THEN adev END) AS mad
      FROM mad_rk GROUP BY event_type
    )
    SELECT
      d.event_type,
      CAST(mad.med AS BIGINT) AS median_cents,
      CAST(mad.mad AS BIGINT) AS mad_cents,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(*) FILTER (WHERE d.adev > 5 * mad.mad) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    GROUP BY d.event_type, mad.med, mad.mad
    """,
    tags=("events", "anomaly", "robust-statistics"),
)
def events_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median absolute deviation — the
    heavy-tail-safe complement of `anomaly_zscore_daily`: one wild value
    shifts a mean and inflates a stddev, but cannot move a median, so
    MAD flags (|x − med| > 5·MAD) stay stable under contamination.

    Both medians are EXACT lower order statistics (rank (n+1)÷2 with
    integer arithmetic) — not interpolated percentiles whose formulas
    differ by engine — so median, MAD, and outlier counts are all
    integers and hash-match. The deviation pass reuses the event_type
    partitioning for both rank windows and both joins: one logical key
    end to end.

    100 TB: event_type has HANDFUL cardinality, so a type-partitioned
    rank window would funnel the whole events table through a few tasks.
    Both order statistics instead come from the two-phase bucketed rank
    (:func:`two_phase_rank`, event_id tiebreak — a refinement of the
    value order, so the (n+1)÷2-th smallest VALUE is unchanged):
    value-range buckets rank in parallel and only each type's ≤4096-row
    bucket table crosses an ordered window. Group sizes are a map-side
    rollup broadcast back.
    """
    v = (
        _timed_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            cents("value").alias("cents"),
        )
    )
    n_by_type = (
        v.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    med_rk = two_phase_rank(
        v, F.col("cents"), "event_id", partition_cols=("event_type",)
    ).join(F.broadcast(n_by_type), "event_type")
    # |types|-row table: checkpoint so the three downstream consumers
    # (dev, the mad two-phase's min/max scan, the final rollup) don't each
    # re-derive the whole median phase.
    m = med_rk.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("cents"))
        ).alias("med")
    ).localCheckpoint(eager=False)
    dev = v.join(F.broadcast(m), "event_type").select(
        "event_type",
        "event_id",
        "cents",
        F.abs(F.col("cents") - F.col("med")).alias("adev"),
        "med",
    )
    mad_rk = two_phase_rank(
        dev, F.col("adev"), "event_id", partition_cols=("event_type",)
    ).join(F.broadcast(n_by_type), "event_type")
    mad = mad_rk.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.max(
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("adev"))
        ).alias("mad"),
    )
    return (
        dev.drop("med")
        .join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("adev") > 5 * F.col("mad"), 1)).alias(
                "n_outliers"
            ),
        )
        .select(
            "event_type",
            F.col("med").cast("long").alias("median_cents"),
            F.col("mad").cast("long").alias("mad_cents"),
            "n_rows",
            "n_outliers",
        )
    )


@query(
    "events_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT
        event_type,
        ({oracle_epoch_s()}) // {_DAY_S} AS day,
        SUM({oracle_cents('value')}) AS v
      FROM {oracle_events()} events
      GROUP BY event_type, ({oracle_epoch_s()}) // {_DAY_S}
    ), lagk AS (
      SELECT a.event_type, l.lag_k, a.v AS x, b.v AS y
      FROM (SELECT 1 AS lag_k UNION ALL SELECT 7) l
      CROSS JOIN daily a
      JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.lag_k
    ), m AS (
      SELECT event_type, lag_k,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM lagk GROUP BY event_type, lag_k
    )
    -- VARCHAR-routed conversions: daily-sum second moments exceed 2^53
    -- and DuckDB's native INT128->double cast is build-dependently
    -- mis-rounded; strtod matches Spark's BigDecimal path.
    SELECT
      event_type,
      CAST(lag_k AS BIGINT) AS lag_k,
      CAST(n AS BIGINT) AS n_pairs,
      (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
        AS acf
    FROM m
    """,
    tags=("events", "timeseries", "autocorrelation"),
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of per-type daily spend at lags 1 and 7 — the
    seasonality diagnostic (lag-7 ≫ lag-1 flags weekly cycles) that
    decides whether forecasts need seasonal terms, completing the
    time-series family (gap-fill → EWMA → anomaly → trend → heatmap →
    ACF).

    The lag pairing is a self-join of the DAILY rollup on (type, day+k) —
    days ≪ events, so the join is over a tiny table — and the Pearson
    formula runs on exact integer moments like `agg_corr_covar`, making
    the coefficients bit-stable.
    """
    e = _timed_events(spark, sf_dir).select(
        "event_type",
        (F.expr(spark_epoch_s()).cast("long") / _DAY_S).cast("long").alias("day"),
        cents("value").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(F.sum("cents").alias("v"))
    lags = spark.range(2).select(
        F.when(F.col("id") == 0, F.lit(1)).otherwise(F.lit(7)).alias("lag_k")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.day") == F.col("a.day") + F.col("lag_k")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag_k",
            F.col("a.v").alias("x"),
            F.col("b.v").alias("y"),
        )
    )
    x = F.col("x").cast("decimal(38,0)")
    y = F.col("y").cast("decimal(38,0)")
    m = pairs.groupBy("event_type", "lag_k").agg(
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
        "event_type",
        F.col("lag_k").cast("long").alias("lag_k"),
        F.col("n").cast("long").alias("n_pairs"),
        (
            (nd * sxyd - sxd * syd)
            / F.sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
        ).alias("acf"),
    )


@query(
    "events_conversion_wilson_ci",
    oracle=f"""
    WITH c AS (
      SELECT
        user_id % 2 AS variant,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS k,
        COUNT(*) AS n
      FROM {oracle_events()} events
      GROUP BY user_id % 2
    )
    SELECT
      CAST(variant AS BIGINT) AS variant,
      CAST(k AS BIGINT) AS conversions,
      CAST(n AS BIGINT) AS trials,
      (CAST(k AS DOUBLE) / n + 1.9599639845400545 * 1.9599639845400545 / (2.0 * n)
        - 1.9599639845400545 * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n
              + 1.9599639845400545 * 1.9599639845400545 / (4.0 * n * n)))
        / (1.0 + 1.9599639845400545 * 1.9599639845400545 / n) AS wilson_lo,
      (CAST(k AS DOUBLE) / n + 1.9599639845400545 * 1.9599639845400545 / (2.0 * n)
        + 1.9599639845400545 * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n
              + 1.9599639845400545 * 1.9599639845400545 / (4.0 * n * n)))
        / (1.0 + 1.9599639845400545 * 1.9599639845400545 / n) AS wilson_hi
    FROM c
    """,
    tags=("events", "experimentation", "statistics"),
)
def events_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval for each variant's purchase-conversion
    rate — the interval experimentation dashboards should use instead of
    the normal approximation (Wilson stays inside [0,1] and behaves at
    small k), completing the A/B readout pair with `events_ab_welch_ttest`.

    Inputs are two exact integers per variant (conversions, trials) from
    one conditional-count pass; the closed form runs with z = 1.9599…
    inlined as the same 17-digit literal in both engines, so bounds are
    bit-stable. One map-side-combined shuffle of 2 groups.
    """
    z = 1.9599639845400545
    e = _timed_events(spark, sf_dir)
    c = e.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("k"),
        F.count(F.lit(1)).alias("n"),
    )
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n").cast("double")
    center = p + F.lit(z * z) / (F.lit(2.0) * n)
    half = F.lit(z) * F.sqrt(
        p * (F.lit(1.0) - p) / n + F.lit(z * z) / (F.lit(4.0) * n * n)
    )
    denom = F.lit(1.0) + F.lit(z * z) / n
    return c.select(
        F.col("variant").cast("long").alias("variant"),
        F.col("k").cast("long").alias("conversions"),
        F.col("n").cast("long").alias("trials"),
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    )


@query(
    "events_changepoint_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ({oracle_epoch_s()}) // {_DAY_S} AS day,
             SUM({oracle_cents('value')}) AS v
      FROM {oracle_events()} events
      GROUP BY event_type, ({oracle_epoch_s()}) // {_DAY_S}
    ), tot AS (
      SELECT event_type, SUM(v) AS t, COUNT(*) AS n FROM daily
      GROUP BY event_type
    ), cusum AS (
      SELECT d.event_type, d.day,
             SUM(tot.n * d.v - tot.t) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS UNBOUNDED PRECEDING) AS s_scaled,
             tot.n
      FROM daily d JOIN tot ON d.event_type = tot.event_type
    ), ranked AS (
      SELECT event_type, day, s_scaled, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY abs(s_scaled) DESC, day) AS rk
      FROM cusum
    )
    SELECT event_type,
           CAST(day AS BIGINT) AS changepoint_day,
           CAST(s_scaled AS BIGINT) AS cusum_scaled,
           CAST(n AS BIGINT) AS n_days
    FROM ranked WHERE rk = 1
    """,
    tags=("events", "timeseries", "changepoint"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on per-type daily spend: the day where
    the cumulative deviation from the series mean peaks — the classic
    level-shift locator behind "when did this metric change" questions.

    Exactness trick: the textbook statistic S_k = Σ(x_i − x̄) is
    fractional; scaling by n gives S_k·n = Σ(n·x_i − T), PURE INTEGERS
    (T = series total), so the running sum, the argmax, and the reported
    peak are all exact — the same clear-the-denominator move as the
    heavy-hitters threshold. Window and rollup both ride the event_type
    partitioning of the tiny daily table.
    """
    e = _timed_events(spark, sf_dir).select(
        "event_type",
        (F.expr(spark_epoch_s()).cast("long") / _DAY_S).cast("long").alias("day"),
        cents("value").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(F.sum("cents").alias("v"))
    tot = daily.groupBy("event_type").agg(
        F.sum("v").alias("t"), F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("event_type")
    cusum = daily.join(tot, "event_type").withColumn(
        "s_scaled",
        F.sum(F.col("n") * F.col("v") - F.col("t")).over(
            wt.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ranked = cusum.withColumn(
        "rk",
        F.row_number().over(wt.orderBy(F.abs(F.col("s_scaled")).desc(), "day")),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("day").cast("long").alias("changepoint_day"),
        F.col("s_scaled").cast("long").alias("cusum_scaled"),
        F.col("n").cast("long").alias("n_days"),
    )


# Kaplan-Meier: users still active in the last observed week are censored
# (we cannot know their true lifetime), exactly like patients alive at
# study end.
_KM_CENSOR_DAYS = 7


_KM_RISK_SQL = """
    WITH span AS (
      -- The FULL module-wide dead-letter wrap (_timed_events): ts IS NOT
      -- NULL (an all-NULL-ts user otherwise yields a NULL-lifetime row
      -- the Spark side excludes entirely) AND
      -- the isfinite(value) fold, carried even though this template
      -- never reads value, so a future value-reading edit inherits the
      -- parity-verified semantics instead of the NaN/Inf hazard.
      SELECT user_id,
             MIN(({es}) // {day_s}) AS d0,
             MAX(({es}) // {day_s}) AS d1
      FROM {events} km_e
      GROUP BY user_id
    ), horizon AS (
      SELECT MAX(d1) AS dmax FROM span
    ), lt AS (
      SELECT s.user_id, s.d1 - s.d0 + 1 AS lifetime,
             (s.d1 >= h.dmax - {censor}) AS censored
      FROM span s CROSS JOIN horizon h
    ), per_t AS (
      SELECT lifetime AS t,
             COUNT(*) FILTER (WHERE NOT censored) AS d_events,
             COUNT(*) AS leaving
      FROM lt GROUP BY lifetime
    ), risk AS (
      SELECT t, d_events,
             SUM(leaving) OVER (ORDER BY t DESC
               ROWS UNBOUNDED PRECEDING) AS n_at_risk
      FROM per_t
    )
"""


def _km_body_sql(events: str) -> str:
    return _KM_RISK_SQL.format(
        es=oracle_epoch_s(), day_s=_DAY_S, events=oracle_events(events),
        censor=_KM_CENSOR_DAYS,
    )


def _km_oracle(sf_dir: str) -> str:
    """Data-dependent oracle (the ml_woe_binning pattern, rational
    arguments): DuckDB rebuilds the lifetime/at-risk table itself; each
    hazard's −ln(1 − d/n) = ln(n/(n−d)) micro-nat enters as a
    Python-decimal literal keyed on the (d, n) pair (functions/
    exactlog.py micro_nat_ratio). The pair domain is the lifetime table —
    calendar-bounded. An uncovered (d>0, n) pair would surface as a NULL
    running sum and fail the hash gate loudly.

    The d = n pair (hazard 1, S(t) = 0, −ln S = +inf) is excluded from the
    table by construction — it can only occur at the LAST time point
    (d = n needs everyone-at-risk to leave, so no later row exists), and
    that terminal row reports surv_nll_micro = NULL (−ln 0 has no int64
    representation) in BOTH engines instead of crashing the builder."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_ratio,
    )

    con = duckdb.connect()
    pairs = con.execute(
        _km_body_sql(f"read_parquet('{sf_dir}/events.parquet')")
        + " SELECT d_events, n_at_risk FROM risk"
        "  WHERE d_events > 0 AND d_events < n_at_risk"
    ).fetchall()
    con.close()
    rows = [
        f"(CAST({d} AS BIGINT), CAST({n} AS BIGINT),"
        f" CAST({micro_nat_ratio(n, n - d)} AS BIGINT))"
        for d, n in sorted(set(pairs))
    ] or ["(CAST(0 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT))"]
    return f"""
    {_km_body_sql("events")},
    nll_tab(d, n, micro) AS (VALUES {", ".join(rows)}),
    hazard AS (
      SELECT r.t, r.d_events, r.n_at_risk,
             CASE WHEN r.d_events = 0 OR r.d_events = r.n_at_risk THEN 0
                  ELSE nt.micro END AS nll_micro
      FROM risk r LEFT JOIN nll_tab nt
        ON nt.d = r.d_events AND nt.n = r.n_at_risk
    )
    SELECT
      CAST(t AS BIGINT) AS t_days,
      CAST(n_at_risk AS BIGINT) AS n_at_risk,
      CAST(d_events AS BIGINT) AS churn_events,
      CASE WHEN d_events > 0 AND d_events = n_at_risk THEN NULL
           ELSE CAST(SUM(nll_micro) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
             AS BIGINT) END AS surv_nll_micro
    FROM hazard
    """


@query(
    "events_kaplan_meier_retention",
    oracle_builder=_km_oracle,
    tags=("events", "survival", "retention"),
)
def events_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimate of user lifetime — the censoring-
    aware retention curve (naive churn rates UNDERSTATE retention because
    users still active at the observation edge haven't churned, they're
    censored; KM handles exactly that, here with a {c}-day censor
    window).

    Exactness (by construction, the ml_woe_binning pattern with
    RATIONAL ln arguments): n_at_risk and event counts are pure
    integers (at-risk via a DESCENDING cumulative sum over the lifetime
    table); each hazard −ln(1−d/n) = ln(n/(n−d)) is an integer micro-nat
    computed once in Python decimal arithmetic over the collected
    (d, n) pair domain — calendar-bounded, like the table itself — and
    inlined into both engines (broadcast literal join in Spark, VALUES
    join in the oracle). No engine evaluates ln, the survival product
    Π(1−d/n) is a SUM of exact int64 terms (S(t) = exp(−nll/1e6)), and
    the whole curve hashes bit-for-bit. All windows and rollups run over
    the |lifetimes| table, never raw events. If the curve hits S = 0
    (d = n: every at-risk user churns — only possible at the last time
    point), that terminal row reports surv_nll_micro = NULL (−ln 0) in
    both engines rather than crashing the literal-table builder.

    (On this synthetic corpus users are active throughout the window, so
    only a few distinct lifetimes exist — the curve is short but every
    mechanism (censor split, descending at-risk, hazard quantization) is
    exercised with non-trivial values at each sf.)
    """
    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_ratio,
    )

    e = _timed_events(spark, sf_dir).select(
        "user_id",
        (F.expr(spark_epoch_s()).cast("long") / _DAY_S).cast("long").alias("day"),
    )
    span = e.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    horizon = span.agg(F.max("d1").alias("dmax"))
    lt = span.crossJoin(F.broadcast(horizon)).select(
        (F.col("d1") - F.col("d0") + 1).alias("lifetime"),
        (F.col("d1") >= F.col("dmax") - _KM_CENSOR_DAYS).alias("censored"),
    )
    per_t = lt.groupBy(F.col("lifetime").alias("t")).agg(
        F.count(F.when(~F.col("censored"), 1)).alias("d_events"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_t.withColumn(
        "n_at_risk", F.sum("leaving").over(w_desc)
    ).cache()
    # calendar-bounded collect: one (d, n) pair per distinct lifetime.
    # d = n (hazard 1 → S = 0 → −ln S = +inf) is excluded: it can only be
    # the LAST time point (everyone at risk leaves), and that terminal row
    # reports surv_nll_micro = NULL below instead of crashing here.
    pairs = sorted(
        {
            (r["d_events"], r["n_at_risk"])
            for r in risk.collect()
            if 0 < r["d_events"] < r["n_at_risk"]
        }
    )
    nll_tab = spark.createDataFrame(
        [(d, n, micro_nat_ratio(n, n - d)) for d, n in pairs]
        or [(0, -1, 0)],
        "d long, n long, micro long",
    )
    hazard = risk.join(
        F.broadcast(nll_tab),
        (F.col("d_events") == F.col("d")) & (F.col("n_at_risk") == F.col("n")),
        "left",
    ).withColumn(
        "nll_micro",
        F.when(
            (F.col("d_events") == 0)
            | (F.col("d_events") == F.col("n_at_risk")),
            F.lit(0),
        ).otherwise(F.col("micro")),
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return hazard.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d_events").cast("long").alias("churn_events"),
        F.when(
            (F.col("d_events") > 0)
            & (F.col("d_events") == F.col("n_at_risk")),
            F.lit(None),
        )
        .otherwise(F.sum("nll_micro").over(w_asc))
        .cast("long")
        .alias("surv_nll_micro"),
    )


@query(
    "events_ratio_metric_delta_ci",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id % 2 AS variant, user_id,
             SUM({oracle_cents('value')}) AS x,
             COUNT(*) AS y
      FROM {oracle_events()} events WHERE event_type = 'purchase'
      GROUP BY user_id % 2, user_id
    ), m AS (
      SELECT variant,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM per_user GROUP BY variant
    )
    -- VARCHAR-routed conversions: per-user cross moments exceed 2^53 and
    -- DuckDB's native INT128->double cast is build-dependently
    -- mis-rounded; strtod matches Spark's BigDecimal path.
    SELECT
      CAST(variant AS BIGINT) AS variant,
      CAST(n AS BIGINT) AS n_users,
      CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(CAST(sy AS VARCHAR) AS DOUBLE) / 100.0 AS revenue_per_order,
      sqrt(
        ( (CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
        + (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(CAST(sy AS VARCHAR) AS DOUBLE)) * (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(CAST(sy AS VARCHAR) AS DOUBLE))
          * (CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
        - 2.0 * (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(CAST(sy AS VARCHAR) AS DOUBLE))
          * (CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
        ) / NULLIF(CAST(n AS DOUBLE) - 1.0, 0.0)
      ) * sqrt(CAST(n AS DOUBLE))
        / CAST(CAST(sy AS VARCHAR) AS DOUBLE) / 100.0 AS delta_se
    FROM m
    """,
    tags=("events", "experimentation", "statistics", "delta-method"),
)
def events_ratio_metric_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a RATIO metric (revenue per order)
    under user-level randomization — the experimentation-stats subtlety
    naive per-order analysis gets wrong: orders within a user correlate,
    so the variance must come from USER-level (x, y) pairs via
    var(x̄/ȳ) ≈ (var_x + R²·var_y − 2R·cov_xy) / (n·ȳ²). Completes the
    readout trio: Welch (means), Wilson (proportions), delta method
    (ratios).

    Per-user sums are exact integers; the five cross-moments accumulate
    in DECIMAL(38,0) (the `agg_corr_covar` recipe) and the closed form is
    an identical double sequence in both engines — bit-stable SEs.
    One user-grain shuffle, one |variants|-row rollup.

    A single-user variant (degenerate corpora: all NULL-user purchases
    collapse to one per_user row) has no sample variance: NULLIF guards
    the n−1 divisor on BOTH engines (under
    the driver's ANSI default the bare division is a job-killing
    DIVIDE_BY_ZERO, not a silent NULL).
    """
    e = _timed_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    per_user = e.groupBy(
        (F.col("user_id") % 2).alias("variant"), "user_id"
    ).agg(F.sum(cents("value")).alias("x"), F.count(F.lit(1)).alias("y"))
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    r = sx / sy
    css_x = sxx - sx * sx / nd
    css_y = syy - sy * sy / nd
    ccs_xy = sxy - sx * sy / nd
    se = (
        F.sqrt(
            (css_x + r * r * css_y - F.lit(2.0) * r * ccs_xy)
            / F.nullif(nd - F.lit(1.0), F.lit(0.0))
        )
        * F.sqrt(nd)
        / sy
        / F.lit(100.0)
    )
    return m.select(
        F.col("variant").cast("long").alias("variant"),
        F.col("n").cast("long").alias("n_users"),
        (r / F.lit(100.0)).alias("revenue_per_order"),
        se.alias("delta_se"),
    )


_ATTR_WINDOW_S = 7 * 86400  # lookback for credit assignment


@query(
    "events_attribution_multitouch",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, event_id, ({oracle_epoch_s()}) AS es
      FROM {oracle_events()} events
    ), conv AS (
      SELECT user_id, event_id AS conv_id, es AS conv_es
      FROM e WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, event_type, event_id, es
      FROM e WHERE event_type <> 'purchase'
    ), pairs AS (
      SELECT c.conv_id, t.event_type, t.es, t.event_id,
             COUNT(*) OVER (PARTITION BY c.conv_id) AS n_touches,
             ROW_NUMBER() OVER (PARTITION BY c.conv_id
                                ORDER BY t.es DESC, t.event_id DESC) AS recency
      FROM conv c
      JOIN touch t
        ON t.user_id = c.user_id
       AND t.es < c.conv_es
       AND t.es >= c.conv_es - {_ATTR_WINDOW_S}
    )
    SELECT
      event_type AS channel,
      CAST(COUNT(*) FILTER (WHERE recency = 1) AS BIGINT) AS last_touch_credits,
      CAST(SUM(1000000 // n_touches) AS BIGINT) AS linear_credit_micro,
      CAST(COUNT(*) AS BIGINT) AS n_touchpoints
    FROM pairs
    GROUP BY event_type
    """,
    tags=("events", "attribution", "marketing"),
)
def events_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: every purchase distributes credit over the
    user's touches in the preceding 7 days — LAST-TOUCH (the recency
    argmax) and LINEAR (1/n per touch) side by side, per channel. The
    marketing-mix question every event warehouse answers weekly.

    Exactness: linear credit is floor(1e6/n) integer micro-credits
    (deterministic; the sub-micro remainder is dropped identically in
    both engines), last-touch picks the recency-1 row via a total-order
    tiebreak. The conversion⋈touch join keys on user_id with a bounded
    time band — fan-out is touches-per-user-week, the same bounded-band
    shape as `join_range_bucketed`, and both window functions ride the
    conv_id partitioning the join already established.
    """
    e = _timed_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "event_id",
        F.expr(spark_epoch_s()).cast("long").alias("es"),
    )
    conv = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("conv_id"), F.col("es").alias("conv_es")
    )
    touch = e.filter(F.col("event_type") != "purchase")
    pairs = conv.join(
        touch,
        (touch["user_id"] == conv["user_id"])
        & (touch["es"] < conv["conv_es"])
        & (touch["es"] >= conv["conv_es"] - _ATTR_WINDOW_S),
    ).select("conv_id", "event_type", "es", "event_id")
    wc = Window.partitionBy("conv_id")
    scored = pairs.select(
        "event_type",
        F.count(F.lit(1)).over(wc).alias("n_touches"),
        F.row_number()
        .over(wc.orderBy(F.col("es").desc(), F.col("event_id").desc()))
        .alias("recency"),
    )
    return scored.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.when(F.col("recency") == 1, 1)).alias("last_touch_credits"),
        F.sum(F.expr("1000000 div n_touches")).cast("long").alias(
            "linear_credit_micro"
        ),
        F.count(F.lit(1)).alias("n_touchpoints"),
    )


_BOOT_B = 50  # resamples; deterministic md5 draws, no RNG


@query(
    "events_bootstrap_ci_daily_mean",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ({oracle_epoch_s()}) // {_DAY_S} AS day,
             SUM({oracle_cents('value')}) AS v
      FROM {oracle_events()} events
      GROUP BY event_type, ({oracle_epoch_s()}) // {_DAY_S}
    ), idx AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ), draws AS (
      SELECT x.event_type, r.r, d.i AS pos,
             ('0x' || substr(md5(x.event_type || ':' || r.r || ':' || d.i), 1, 8))::BIGINT
               % x.n AS pick
      FROM (SELECT DISTINCT event_type, n FROM idx) x
      CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS r) r
      CROSS JOIN (SELECT unnest(generate_series(0, 100)) AS i) d
      WHERE d.i < x.n
    ), resampled AS (
      SELECT dr.event_type, dr.r, SUM(ix.v) AS tot, COUNT(*) AS n
      FROM draws dr JOIN idx ix
        ON ix.event_type = dr.event_type AND ix.i = dr.pick
      GROUP BY dr.event_type, dr.r
    ), ranked AS (
      SELECT event_type, tot, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY tot * 1.0 / n, r) AS rk
      FROM resampled
    )
    SELECT
      event_type,
      CAST(MAX(CASE WHEN rk = 2 THEN tot END) AS BIGINT) AS lo_tot,
      CAST(MAX(CASE WHEN rk = {_BOOT_B - 1} THEN tot END) AS BIGINT) AS hi_tot,
      CAST(MAX(n) AS BIGINT) AS days_per_resample
    FROM ranked GROUP BY event_type
    """,
    tags=("events", "statistics", "bootstrap"),
)
def events_bootstrap_ci_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC bootstrap confidence interval for mean daily spend:
    {B} resamples whose draws come from md5(type:resample:slot) — the
    no-RNG discipline applied to the one statistical tool everyone
    believes needs randomness. Reruns, engines, and cluster layouts all
    produce the identical interval; the ~2.5th/97.5th resample order
    statistics bound the mean.

    Resampling runs as a cover-set expansion over the DAILY table (B×n
    draw rows, days ≪ events), each draw equi-joins its picked day's
    exact integer total, and the per-resample sums are exact — ranks
    break ties on the resample id, so the reported bounds hash-match.
    """
    e = _timed_events(spark, sf_dir).select(
        "event_type",
        (F.expr(spark_epoch_s()).cast("long") / _DAY_S).cast("long").alias("day"),
        cents("value").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(F.sum("cents").alias("v"))
    wt = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "v",
        (F.row_number().over(wt.orderBy("day")) - 1).alias("i"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    base = idx.select("event_type", "n").distinct()
    draws = (
        base.select(
            "event_type",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("r"),
        )
        .select(
            "event_type",
            "r",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("slot"),
            "n",
        )
        .select(
            "event_type",
            "r",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":", "event_type", F.col("r").cast("string"),
                                F.col("slot").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n")
            ).alias("pick"),
        )
    )
    resampled = (
        draws.join(
            idx.select("event_type", F.col("i").alias("pick"), "v"),
            ["event_type", "pick"],
        )
        .groupBy("event_type", "r")
        .agg(F.sum("v").alias("tot"), F.count(F.lit(1)).alias("n"))
    )
    ranked = resampled.withColumn(
        "rk",
        F.row_number().over(
            wt.orderBy(F.col("tot") * 1.0 / F.col("n"), F.col("r"))
        ),
    )
    return ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rk") == 2, F.col("tot"))).cast("long").alias("lo_tot"),
        F.max(F.when(F.col("rk") == _BOOT_B - 1, F.col("tot")))
        .cast("long")
        .alias("hi_tot"),
        F.max("n").cast("long").alias("days_per_resample"),
    )


@query(
    "events_anova_hour_of_week",
    oracle=f"""
    WITH x AS (
      SELECT event_type,
             ((((({oracle_epoch_s()}) - ((({oracle_epoch_s()}) % 86400 + 86400)
                  % 86400)) // 86400 + 4) % 7 + 7) % 7) * 24
               + ((({oracle_epoch_s()}) % 86400 + 86400) % 86400) // 3600 AS cell,
             {oracle_cents('value')} AS v
      FROM {oracle_events()} events
    ), per_cell AS (
      SELECT event_type, cell,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS nc,
             CAST(SUM(v) AS DECIMAL(38,0)) AS sc
      FROM x GROUP BY event_type, cell
    ), tot AS (
      SELECT event_type,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             CAST(SUM(v) AS DECIMAL(38,0)) AS s,
             SUM(CAST(v AS DECIMAL(38,0)) * v) AS ss,
             CAST(COUNT(DISTINCT cell) AS DECIMAL(38,0)) AS k
      FROM x GROUP BY event_type
    ), ssb AS (
      -- each S_c²/n_c floors to an integer before the sum (magnitudes are
      -- ≥1e14, so unit precision is noise) — the summed SSB is exact int64
      SELECT p.event_type,
             CAST(SUM(CAST(floor(CAST(p.sc AS DOUBLE) * CAST(p.sc AS DOUBLE)
                                 / CAST(p.nc AS DOUBLE)) AS BIGINT))
                  AS DOUBLE) AS sum_sc2_over_nc
      FROM per_cell p GROUP BY p.event_type
    )
    SELECT
      t.event_type,
      CAST(t.n AS BIGINT) AS n_events,
      CAST(t.k AS BIGINT) AS n_cells,
      -- t.ss (Σv² per type) exceeds 2^53 on amplified in-contract data:
      -- VARCHAR-routed conversion = correctly rounded on any DuckDB
      -- build, matching Spark's BigDecimal path. s/sc stay
      -- ≤ ~1e10 — their native casts are exact.
      (b.sum_sc2_over_nc - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
        / (CAST(CAST(t.ss AS VARCHAR) AS DOUBLE) - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
        AS eta_squared,
      ((b.sum_sc2_over_nc - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
         / (CAST(t.k AS DOUBLE) - 1.0))
      / ((CAST(CAST(t.ss AS VARCHAR) AS DOUBLE) - b.sum_sc2_over_nc) / (CAST(t.n AS DOUBLE) - CAST(t.k AS DOUBLE)))
        AS f_stat
    FROM tot t JOIN ssb b ON t.event_type = b.event_type
    """,
    tags=("events", "statistics", "anova", "seasonality"),
)
def events_anova_hour_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of spend across the 168 hour-of-week cells — the
    seasonality-STRENGTH readout on top of the heatmap: η² says what
    fraction of spend variance the weekly cycle explains, the F statistic
    says whether that structure beats noise. Near-zero values on this
    uniform synthetic corpus are themselves the correct answer.

    Between-group sums of squares come from per-cell (n_c, S_c) EXACT
    integer pairs via SSB = Σ S_c²/n_c − S²/n (no per-row deviations, so
    no mixed-denominator scaling problem); each S_c²/n_c term floors to
    int64 before the sum so SSB is order-independent, and the remaining
    quadratic forms are the identical double sequence in both engines. Two aggregations share
    the event_type key; the per-cell table is ≤ |types|·168 rows.
    """
    es = spark_epoch_s()
    e = _timed_events(spark, sf_dir).select(
        "event_type",
        F.expr(
            f"pmod((({es}) - pmod(({es}), 86400)) DIV 86400 + 4, 7) * 24"
            f" + pmod(({es}), 86400) DIV 3600"
        ).alias("cell"),
        cents("value").alias("v"),
    )
    per_cell = e.groupBy("event_type", "cell").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nc"),
        F.sum("v").cast("decimal(38,0)").alias("sc"),
    )
    vd = F.col("v").cast("decimal(38,0)")
    tot = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("s"),
        F.sum(vd * vd).alias("ss"),
        F.count_distinct("cell").cast("decimal(38,0)").alias("k"),
    )
    ssb = per_cell.groupBy("event_type").agg(
        F.sum(
            F.floor(
                F.col("sc").cast("double") * F.col("sc").cast("double")
                / F.col("nc").cast("double")
            ).cast("long")
        )
        .cast("double")
        .alias("sum_sc2_over_nc")
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    kd = F.col("k").cast("double")
    b = F.col("sum_sc2_over_nc")
    # Zero-capable divisors: total SS = 0 for
    # zero-variance spend (eta's denominator), k = 1 / n = k for a
    # one-cell or one-event type (F's df divisors). Spark 4 ANSI raises
    # DIVIDE_BY_ZERO on DOUBLE/0 where DuckDB returns NULL — try_divide
    # restores NULL parity in both ANSI modes. n itself is never 0 (the
    # group exists), so sd*sd/nd stays a plain divide.
    return tot.join(ssb, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.col("k").cast("long").alias("n_cells"),
        F.try_divide(b - sd * sd / nd, ssd - sd * sd / nd).alias(
            "eta_squared"
        ),
        F.try_divide(
            F.try_divide(b - sd * sd / nd, kd - F.lit(1.0)),
            F.try_divide(ssd - b, nd - kd),
        ).alias("f_stat"),
    )


_CONC_GAP_S = 30 * 60  # session gap, matches the sessionization queries


@query(
    "events_peak_concurrency",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ({oracle_epoch_s()}) AS es FROM {oracle_events()} events
    ), flagged AS (
      SELECT user_id, es,
             CASE WHEN es - COALESCE(LAG(es) OVER (PARTITION BY user_id
                                                   ORDER BY es),
                                     -{10 ** 15}) >= {_CONC_GAP_S}
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ), withsid AS (
      SELECT user_id, es,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY es
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), sess AS (
      SELECT user_id, sid,
             MIN(es) AS s_start, MAX(es) + {_CONC_GAP_S} AS s_end
      FROM withsid
      GROUP BY user_id, sid
    ), bounds AS (
      SELECT s_start AS t, 1 AS delta FROM sess
      UNION ALL
      SELECT s_end, -1 FROM sess
    ), sweep AS (
      SELECT t, SUM(delta) AS d FROM bounds GROUP BY t
    ), run AS (
      SELECT t, SUM(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS live
      FROM sweep
    )
    SELECT
      CAST(MAX(live) AS BIGINT) AS peak_concurrent_sessions,
      CAST((SELECT COUNT(*) FROM sess) AS BIGINT) AS n_sessions,
      CAST(MIN(t) AS BIGINT) AS first_boundary_es,
      CAST(MAX(t) AS BIGINT) AS last_boundary_es
    FROM run
    """,
    tags=("events", "concurrency", "sweep-line"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions — capacity planning's first number — by
    the SWEEP-LINE re-expression: each session emits +1 at its start and
    −1 at its end, boundaries collapse per timestamp, and the running sum
    over ordered boundaries is the live-session count whose max is the
    peak. No interval self-join (the naive O(sessions²) shape) ever
    exists.

    Sessions come from the same 30-minute-gap sessionization as
    `agg_sessionize_events` (a session "ends" one gap after its last
    event). Everything is integer epoch arithmetic, and the sweep is the
    per-shard-maxima + merge form, not a single global sort: running sums
    and their maxima are computed per day-bucket in parallel, and only
    the one-row-per-day totals table crosses a global window — so no
    single partition ever holds the full boundary set at 100 TB.
    """
    e = _timed_events(spark, sf_dir).select(
        "user_id", F.expr(spark_epoch_s()).cast("long").alias("es")
    )
    wu = Window.partitionBy("user_id").orderBy("es")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.col("es") - F.coalesce(F.lag("es").over(wu), F.lit(-(10 ** 15)))
            >= _CONC_GAP_S,
            1,
        ).otherwise(0),
    )
    sess = (
        flagged.withColumn(
            "sid",
            F.sum("new_s").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("es").alias("s_start"),
            (F.max("es") + _CONC_GAP_S).alias("s_end"),
        )
    )
    bounds = sess.select(F.col("s_start").alias("t"), F.lit(1).alias("delta")).unionAll(
        sess.select(F.col("s_end").alias("t"), F.lit(-1).alias("delta"))
    )
    sweep = bounds.groupBy("t").agg(F.sum("delta").alias("d"))
    # Two-phase running sum (the pack_token_shards discipline) — never a
    # global single-partition window over the boundary table: boundaries
    # bucket by calendar day, the running sum and its max are computed
    # WITHIN each bucket (partitioned, parallel), and only the per-DAY
    # totals — one row per day, bounded by calendar span, not by data
    # volume — take the global exclusive prefix sum. The peak is then
    # max over buckets of (base + local max), identical to the global
    # running-sum max because buckets partition t in order. Exact integer
    # arithmetic throughout; an extreme-density day nests the same trick
    # one level down (hour buckets) without changing the readout.
    # exact int64 division (the twophase.py discipline) — same
    # truncate-toward-zero semantics as the old double-divide-then-cast
    # (and as DuckDB's //), but exact for |t| beyond double's 2^53 mantissa
    # instead of silently rounding through a double
    b = sweep.withColumn("bucket", F.expr("t DIV 86400"))
    wloc = (
        Window.partitionBy("bucket")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per_bucket = (
        b.withColumn("run_loc", F.sum("d").over(wloc))
        .groupBy("bucket")
        .agg(
            F.max("run_loc").alias("loc_max"),
            F.sum("d").alias("btot"),
            F.min("t").alias("bt_min"),
            F.max("t").alias("bt_max"),
        )
    )
    based = per_bucket.withColumn(
        "base",
        F.coalesce(
            F.sum("btot").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    n_sessions = sess.agg(F.count(F.lit(1)).alias("ns"))
    return based.agg(
        F.max(F.col("base") + F.col("loc_max"))
        .cast("long")
        .alias("peak_concurrent_sessions"),
        F.min("bt_min").cast("long").alias("first_boundary_es"),
        F.max("bt_max").cast("long").alias("last_boundary_es"),
    ).crossJoin(F.broadcast(n_sessions)).select(
        "peak_concurrent_sessions",
        F.col("ns").cast("long").alias("n_sessions"),
        "first_boundary_es",
        "last_boundary_es",
    )


@query(
    "events_seasonal_naive_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ({oracle_epoch_s()}) // {_DAY_S} AS day,
             SUM({oracle_cents('value')}) AS v
      FROM {oracle_events()} events
      GROUP BY event_type, ({oracle_epoch_s()}) // {_DAY_S}
    )
    SELECT
      a.event_type,
      CAST(COUNT(*) AS BIGINT) AS n_forecasts,
      CAST(SUM(abs(a.v - f.v)) AS BIGINT) AS mae_cents_total,
      CAST(SUM(abs(a.v - f.v)) AS DOUBLE) / COUNT(*) / 100.0 AS mae,
      CAST(SUM(CASE WHEN abs(a.v - f.v) * 10 <= a.v THEN 1 ELSE 0 END)
        AS BIGINT) AS n_within_10pct
    FROM daily a JOIN daily f
      ON f.event_type = a.event_type AND f.day = a.day - 7
    GROUP BY a.event_type
    """,
    tags=("events", "forecasting", "backtest"),
)
def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's spend with the
    value from seven days earlier and score the error — the baseline
    every forecasting model must beat before it earns compute, and the
    honest way to quantify how forecastable a metric even is.

    The forecast join is the daily table against itself at lag 7 (the
    ACF query's pairing, repurposed); absolute errors are exact integer
    cents, MAE divides once, and the within-10% hit counter is an integer
    cross-multiplication (|err|·10 ≤ actual). All work is over the daily
    rollup.
    """
    e = _timed_events(spark, sf_dir).select(
        "event_type",
        (F.expr(spark_epoch_s()).cast("long") / _DAY_S).cast("long").alias("day"),
        cents("value").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(F.sum("cents").alias("v"))
    a = daily.alias("a")
    f_ = daily.alias("f")
    joined = a.join(
        f_,
        (F.col("f.event_type") == F.col("a.event_type"))
        & (F.col("f.day") == F.col("a.day") - 7),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.v").alias("actual"),
        F.col("f.v").alias("forecast"),
    )
    err = F.abs(F.col("actual") - F.col("forecast"))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_forecasts"),
        F.sum(err).cast("long").alias("mae_cents_total"),
        (F.sum(err).cast("double") / F.count(F.lit(1)) / F.lit(100.0)).alias(
            "mae"
        ),
        F.count(F.when(err * 10 <= F.col("actual"), 1)).alias("n_within_10pct"),
    )


@query(
    "cohort_ltv_curve",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ({oracle_epoch_s()}) // {_WEEK_S} AS w,
             {oracle_cents('value')} AS cents
      FROM {oracle_events()} events WHERE event_type = 'purchase'
    ), cohort AS (
      SELECT user_id, MIN(w) AS cw FROM e GROUP BY user_id
    ), wk AS (
      SELECT c.cw, e.w - c.cw AS off, SUM(e.cents) AS rev,
             COUNT(DISTINCT e.user_id) AS active
      FROM e JOIN cohort c ON e.user_id = c.user_id
      GROUP BY c.cw, e.w - c.cw
    ), sized AS (
      SELECT cw, COUNT(*) AS cohort_size FROM cohort GROUP BY cw
    )
    SELECT
      CAST(wk.cw AS BIGINT) AS cohort_week,
      CAST(wk.off AS BIGINT) AS week_offset,
      CAST(s.cohort_size AS BIGINT) AS cohort_size,
      CAST(wk.active AS BIGINT) AS active_users,
      CAST(SUM(wk.rev) OVER (PARTITION BY wk.cw ORDER BY wk.off
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_revenue_cents
    FROM wk JOIN sized s ON wk.cw = s.cw
    """,
    tags=("events", "cohort", "ltv"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue layer on the retention
    triangle (`cohort_retention` counts who returns; this accumulates
    what they SPEND): per first-purchase-week cohort, cumulative revenue
    by week offset alongside cohort size and active users — the payback
    curve acquisition spend is judged against.

    Purchase cents are exact integers; the cumulative window runs per
    cohort over |offsets| rows (weeks, not events); all joins and both
    rollups key on user/cohort keys the distinct pass already
    established. The retention triangle, monetary column, and LTV window
    share one dataflow.
    """
    e = _timed_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        (F.expr(spark_epoch_s()).cast("long") / _WEEK_S).cast("long").alias("w"),
        cents("value").alias("cents"),
    )
    cohort = e.groupBy("user_id").agg(F.min("w").alias("cw"))
    wk = (
        e.join(cohort, "user_id")
        .groupBy("cw", (F.col("w") - F.col("cw")).alias("off"))
        .agg(
            F.sum("cents").alias("rev"),
            F.count_distinct("user_id").alias("active"),
        )
    )
    sized = cohort.groupBy("cw").agg(F.count(F.lit(1)).alias("cohort_size"))
    wc = Window.partitionBy("cw").orderBy("off").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        wk.join(F.broadcast(sized), "cw")
        .select(
            F.col("cw").cast("long").alias("cohort_week"),
            F.col("off").cast("long").alias("week_offset"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.col("active").cast("long").alias("active_users"),
            F.sum("rev").over(wc).cast("long").alias("cum_revenue_cents"),
        )
    )


@query(
    "funnel_latency_percentiles",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, ({oracle_epoch_s()}) AS es
      FROM {oracle_events()} events
    ), v AS (
      SELECT user_id, MIN(es) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.es) AS t_buy, MIN(v.t_view) AS t_view
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.es > v.t_view
      GROUP BY e.user_id
    ), lat AS (
      SELECT user_id, t_buy - t_view AS lat_s,
             ROW_NUMBER() OVER (ORDER BY t_buy - t_view, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM p
    )
    SELECT
      CAST(MAX(n) AS BIGINT) AS n_converters,
      CAST(MAX(CASE WHEN rk = (50 * n + 99) // 100 THEN lat_s END) AS BIGINT)
        AS p50_latency_s,
      CAST(MAX(CASE WHEN rk = (90 * n + 99) // 100 THEN lat_s END) AS BIGINT)
        AS p90_latency_s,
      CAST(MAX(CASE WHEN rk = (99 * n + 99) // 100 THEN lat_s END) AS BIGINT)
        AS p99_latency_s
    FROM lat
    """,
    tags=("events", "funnel", "latency", "percentiles"),
)
def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentile ladder — the SLA-style readout on top of
    the funnel's mean latency (`funnel_conversion`): the p50/p90/p99 of
    first-view → first-purchase-after-it delay, which is what campaign
    and UX decisions actually key on (the p99 converter waits days, not
    the mean's hours).

    Latencies are exact integer seconds; percentiles are exact lower
    order statistics at rank ⌈q·n⌉ with integer ceiling arithmetic —
    never interpolated. The converter table never crosses a global
    window: it collapses to per-DISTINCT-latency counts first (a
    partial-agg shuffle), and the cumulative window runs over that
    value-domain table — bounded by the span in seconds, like the
    Kaplan-Meier per-day table, not by the number of converters. The
    order statistic at rank r is then MIN(lat_s | cum ≥ r), identical to
    the oracle's ROW_NUMBER probe because equal latencies are
    interchangeable at a rank boundary.
    """
    e = _timed_events(spark, sf_dir).select(
        "user_id", "event_type", F.expr(spark_epoch_s()).cast("long").alias("es")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("es").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("es") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("es").alias("t_buy"), F.min("t_view").alias("t_view"))
    )
    lat = p.select(
        "user_id", (F.col("t_buy") - F.col("t_view")).alias("lat_s")
    )
    cnt = lat.groupBy("lat_s").agg(F.count(F.lit(1)).alias("c"))
    cum = cnt.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("lat_s").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    n_tab = lat.agg(F.count(F.lit(1)).alias("n"))
    ranked = cum.crossJoin(F.broadcast(n_tab))

    def at(q):
        return F.min(
            F.when(
                F.col("cum") >= F.expr(f"({q} * n + 99) div 100"),
                F.col("lat_s"),
            )
        ).cast("long")

    return ranked.agg(
        F.max("n").cast("long").alias("n_converters"),
        at(50).alias("p50_latency_s"),
        at(90).alias("p90_latency_s"),
        at(99).alias("p99_latency_s"),
    )


@query(
    "ts_holt_forecast",
    oracle=f"""
    WITH RECURSIVE e AS (
      -- event_type IS NOT NULL: the per-type recursion equi-joins on
      -- event_type and NULL never matches — DuckDB's recursive CTE
      -- silently lost the NULL-type series while Spark's groupBy kept it;
      -- a typeless series is unattributable, so both engines drop it.
      SELECT event_type, ({oracle_epoch_s()}) // {_DAY_S} AS day
      FROM {oracle_events()} events
      WHERE event_type IS NOT NULL
    ), daily AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS x
      FROM e GROUP BY event_type, day
    ), bounds AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily
      GROUP BY event_type
    ), grid AS (
      SELECT event_type, unnest(generate_series(d0, d1)) AS day FROM bounds
    ), filled AS (
      SELECT g.event_type,
             ROW_NUMBER() OVER (
               PARTITION BY g.event_type ORDER BY g.day) AS t,
             COALESCE(d.x, 0) * 1000 AS xm
      FROM grid g LEFT JOIN daily d USING (event_type, day)
    ), rec AS (
      SELECT event_type, t, xm AS l, CAST(0 AS BIGINT) AS b
      FROM filled WHERE t = 1
      UNION ALL
      SELECT s.event_type, s.t,
             (5 * s.xm + 5 * (r.l + r.b)) // 10,
             (3 * (((5 * s.xm + 5 * (r.l + r.b)) // 10) - r.l) + 7 * r.b)
               // 10
      FROM rec r JOIN filled s
        ON s.event_type = r.event_type AND s.t = r.t + 1
    ), fin AS (
      SELECT event_type, MAX(t) AS n_days FROM rec GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(f.n_days AS BIGINT) AS n_days,
           CAST(r.l AS BIGINT) AS level_milli,
           CAST(r.b AS BIGINT) AS trend_milli,
           CAST(r.l + 7 * r.b AS BIGINT) AS forecast_7d_milli
    FROM rec r JOIN fin f
      ON r.event_type = f.event_type AND r.t = f.n_days
    """,
    tags=("events", "timeseries", "forecast", "holt"),
)
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend exponential smoothing (double ES) over each event
    type's daily volume, with a 7-day-ahead forecast — the capacity-planning
    primitive one notch above ``events_seasonal_naive_backtest``.

    The recursion l_t = αx_t + (1-α)(l+b), b_t = β(l_t-l) + (1-β)b is
    inherently ORDER-DEPENDENT — naive floating point would diverge across
    engines and partitionings. Both engines instead run it in exact integer
    milli-units with α=0.5, β=0.3 as integer ratios and truncating division
    (Spark ``DIV`` and DuckDB ``//`` both truncate toward zero), so every
    step state is a bit-identical pair of int64s: Spark folds the sorted
    per-type series with the ``aggregate`` HOF per-row; the oracle unrolls
    the identical recurrence as a recursive CTE. Init l₁=x₁, b₁=0.

    Scale shape: the corpus collapses to per-(type, day) counts in one
    map-side-combined shuffle; the dense grid generates from per-type
    bounds (``sequence`` explode — no driver calendar); the fold then runs
    over one array per SERIES (days, not events — thousands of elements at
    most), so state never exceeds a scalar struct per group. At 100 TB the
    heavy phase is the daily rollup, which is plain hash aggregation.
    """
    # Typeless events dropped on both engines — see the oracle CTE note.
    e = (
        _timed_events(spark, sf_dir)
        .filter(F.col("event_type").isNotNull())
        .select("event_type", F.expr(spark_epoch_s()).cast("long").alias("es"))
    )
    daily = (
        e.select("event_type", (F.col("es") / _DAY_S).cast("long").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    filled = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        (F.coalesce(F.col("x"), F.lit(0)) * 1000).alias("xm"),
    )
    series = filled.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "xm"))).alias("xs")
    )
    fold = F.expr(
        """
        aggregate(xs,
          named_struct(
            't', CAST(0 AS BIGINT), 'l', CAST(0 AS BIGINT),
            'b', CAST(0 AS BIGINT)),
          (acc, e) -> CASE WHEN acc.t = 0
            THEN named_struct(
              't', CAST(1 AS BIGINT), 'l', e.xm, 'b', CAST(0 AS BIGINT))
            ELSE named_struct(
              't', acc.t + 1,
              'l', (5 * e.xm + 5 * (acc.l + acc.b)) DIV 10,
              'b', (3 * (((5 * e.xm + 5 * (acc.l + acc.b)) DIV 10) - acc.l)
                    + 7 * acc.b) DIV 10) END)
        """
    )
    return series.select("event_type", fold.alias("st")).select(
        "event_type",
        F.col("st.t").alias("n_days"),
        F.col("st.l").alias("level_milli"),
        F.col("st.b").alias("trend_milli"),
        (F.col("st.l") + 7 * F.col("st.b")).alias("forecast_7d_milli"),
    )


@query(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH e AS (
      SELECT event_type, ({oracle_epoch_s()}) // {_DAY_S} AS day
      FROM {oracle_events()} events
    ), daily AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS x
      FROM e GROUP BY event_type, day
    ), bounds AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily
      GROUP BY event_type
    ), grid AS (
      SELECT event_type, unnest(generate_series(d0, d1)) AS day FROM bounds
    ), filled AS (
      SELECT g.event_type, g.day, COALESCE(d.x, 0) * 1000 AS xm
      FROM grid g LEFT JOIN daily d USING (event_type, day)
    ), win AS (
      SELECT event_type, day, xm,
             SUM(xm) OVER w AS s7, COUNT(*) OVER w AS c7
      FROM filled
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), interior AS (
      SELECT event_type, ((day % 7) + 7) % 7 AS dow, xm - s7 // 7 AS d
      FROM win WHERE c7 = 7
    ), seasonal AS (
      SELECT event_type, dow,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             SUM(d) // COUNT(*) AS seasonal_milli
      FROM interior GROUP BY event_type, dow
    )
    SELECT s.event_type, CAST(s.dow AS BIGINT) AS dow, s.n_obs,
           CAST(s.seasonal_milli AS BIGINT) AS seasonal_milli,
           CAST(SUM(ABS(i.d - s.seasonal_milli)) // s.n_obs AS BIGINT)
             AS mean_abs_remainder_milli
    FROM interior i
    JOIN seasonal s ON i.event_type = s.event_type AND i.dow = s.dow
    GROUP BY s.event_type, s.dow, s.n_obs, s.seasonal_milli
    """,
    tags=("events", "timeseries", "seasonal", "decompose"),
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of each event type's daily
    volume — trend (centered 7-day moving average), day-of-week seasonal
    index, and the mean absolute remainder that tells you how much signal
    the trend+seasonal model leaves unexplained (the STL-style readout one
    notch below ``ts_holt_forecast``'s forecast).

    Everything runs in exact integer milli-units so both engines agree
    bit-for-bit: trend is ``(Σ_{{t-3..t+3}} xm) DIV 7`` on the dense daily
    grid (defined only where the 7-day window is complete — ``c7 = 7``
    filters the 3-day edges), the seasonal index is the truncating integer
    mean of the detrended values per (type, day-of-week), and the
    remainder statistic is the integer mean of absolute deviations from
    that index. Spark ``DIV`` and DuckDB ``//`` both truncate toward zero
    (verified on negative operands), so the negative detrended values on
    below-trend days divide identically.

    Scale shape: the corpus collapses to per-(type, day) counts in one
    map-side-combined shuffle; the dense grid generates map-side from
    per-type bounds (``sequence`` + ``explode`` — no driver calendar); the
    moving-average window, the seasonal rollup, and the remainder join all
    ride the same event_type hash partitioning, and every table after the
    first rollup is days-per-type sized (thousands of rows), not corpus
    sized. At 100 TB the heavy phase is the daily rollup — plain hash
    aggregation with map-side combine.
    """
    e = _timed_events(spark, sf_dir).select(
        "event_type", F.expr(spark_epoch_s()).cast("long").alias("es")
    )
    daily = (
        e.select("event_type", (F.col("es") / _DAY_S).cast("long").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    filled = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        (F.coalesce(F.col("x"), F.lit(0)) * 1000).alias("xm"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    win = filled.select(
        "event_type",
        "day",
        "xm",
        F.sum("xm").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("c7"),
    )
    interior = win.filter(F.col("c7") == 7).select(
        "event_type",
        F.expr("pmod(day, 7)").alias("dow"),
        (F.col("xm") - F.expr("s7 DIV 7")).alias("d"),
    )
    seasonal = interior.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.expr("SUM(d) DIV COUNT(*)").alias("seasonal_milli"),
    )
    return (
        interior.join(seasonal, ["event_type", "dow"])
        .groupBy("event_type", "dow", "n_obs", "seasonal_milli")
        .agg(
            F.expr("SUM(ABS(d - seasonal_milli)) DIV any_value(n_obs)")
            .cast("long")
            .alias("mean_abs_remainder_milli")
        )
        .select(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            "n_obs",
            F.col("seasonal_milli").cast("long").alias("seasonal_milli"),
            "mean_abs_remainder_milli",
        )
    )


@query(
    "events_cuped_adjusted_delta",
    oracle=f"""
    WITH e AS (
      SELECT user_id, {oracle_epoch_s()} AS es,
             {oracle_cents('value')} AS cents
      FROM {oracle_events()} events
    ), b AS (
      SELECT (MIN(es) + MAX(es)) // 2 AS mid FROM e
    ), pu AS (
      SELECT user_id,
             COALESCE(SUM(CASE WHEN es < b.mid THEN cents END), 0) AS x,
             COALESCE(SUM(CASE WHEN es >= b.mid THEN cents END), 0) AS y
      FROM e CROSS JOIN b
      GROUP BY user_id
    ), m AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        -- second moments of PER-USER sums exceed int64 under in-contract data
        -- (a heavy user's pre/post cents square): accumulate in HUGEINT and
        -- convert to double through VARCHAR, DuckDB's only correctly-rounded
        -- INT128->double path (the native cast mis-rounds ~1.3% of >2^53
        -- values; probed). Spark accumulates DECIMAL(38,0) and
        -- BigDecimal->double is correctly rounded, so both engines feed the
        -- identical doubles into the identical IEEE formula sequence.
        CAST(CAST(SUM(CAST(x AS HUGEINT) * y) AS VARCHAR) AS DOUBLE)
          AS sxyd,
        CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS VARCHAR) AS DOUBLE)
          AS sxxd,
        CAST(CAST(SUM(CAST(y AS HUGEINT) * y) AS VARCHAR) AS DOUBLE)
          AS syyd,
        CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n0,
        CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n1,
        CAST(COALESCE(SUM(x) FILTER (WHERE user_id % 2 = 0), 0) AS BIGINT)
          AS sx0,
        CAST(COALESCE(SUM(y) FILTER (WHERE user_id % 2 = 0), 0) AS BIGINT)
          AS sy0,
        CAST(COALESCE(SUM(x) FILTER (WHERE user_id % 2 = 1), 0) AS BIGINT)
          AS sx1,
        CAST(COALESCE(SUM(y) FILTER (WHERE user_id % 2 = 1), 0) AS BIGINT)
          AS sy1
      FROM pu
    )
    SELECT
      -- NULLIF on every denominator mirrors the Spark side exactly
      -- (empty/one-variant population, constant covariate); DuckDB's
      -- bare 0-division is NULL anyway, so this is documentation-grade
      -- symmetry, not a semantic change.
      n0, n1,
      (CAST(sy0 AS DOUBLE) / NULLIF(CAST(n0 AS DOUBLE), 0.0)
       - CAST(sy1 AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE), 0.0)) / 100.0
        AS raw_delta,
      (CAST(n AS DOUBLE) * sxyd - CAST(sx AS DOUBLE) * sy)
        / NULLIF(CAST(n AS DOUBLE) * sxxd - CAST(sx AS DOUBLE) * sx, 0.0)
        AS theta,
      ((CAST(sy0 AS DOUBLE) / NULLIF(CAST(n0 AS DOUBLE), 0.0)
        - CAST(sy1 AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE), 0.0))
       - (CAST(n AS DOUBLE) * sxyd - CAST(sx AS DOUBLE) * sy)
         / NULLIF(CAST(n AS DOUBLE) * sxxd - CAST(sx AS DOUBLE) * sx, 0.0)
         * (CAST(sx0 AS DOUBLE) / NULLIF(CAST(n0 AS DOUBLE), 0.0)
            - CAST(sx1 AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE), 0.0))) / 100.0
        AS cuped_delta,
      (CAST(n AS DOUBLE) * sxyd - CAST(sx AS DOUBLE) * sy)
      * (CAST(n AS DOUBLE) * sxyd - CAST(sx AS DOUBLE) * sy)
      / NULLIF((CAST(n AS DOUBLE) * sxxd - CAST(sx AS DOUBLE) * sx)
               * (CAST(n AS DOUBLE) * syyd - CAST(sy AS DOUBLE) * sy), 0.0)
        AS var_reduction_rho_sq
    FROM m
    """,
    tags=("events", "experimentation", "statistics", "cuped"),
)
def events_cuped_adjusted_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the
    industry-standard A/B readout): use each user's PRE-period spend X as
    a control covariate for their experiment-period spend Y, estimate
    θ = cov(X,Y)/var(X) on the pooled population, and report the
    θ-adjusted treatment delta Ŷ₀−Ŷ₁ − θ(X̄₀−X̄₁) plus the achieved
    variance reduction ρ². Pre/post split at the integer midpoint of the
    event-time range; variant = user_id parity, as in
    ``events_ab_welch_ttest``.

    Exactness follows the exact-moment recipe: per-user pre/post cents
    are int64 sums; n/Σx/Σy and the per-variant partials accumulate as
    exact int64; the SECOND moments Σxy/Σx²/Σy² accumulate in
    DECIMAL(38,0)/HUGEINT (per-user sums square — in-contract heavy
    users push them past int64) and convert to
    double through each engine's correctly-rounded path (Spark
    BigDecimal→double; DuckDB INT128→VARCHAR→double — the native INT128
    cast mis-rounds ~1.3% of >2^53 values). θ, the adjusted delta, and
    ρ² then derive through an IDENTICAL double-op sequence in both
    engines (every operation IEEE-specified, no libm), so the statistics
    hash-match bit-for-bit.

    Scale shape: one map-side-combined shuffle to the per-user table
    (keyed on user_id — the same partitioning every per-user family
    reuses), then a single 12-column moment rollup to ONE row. The
    1-row bounds table broadcasts. This is the cheapest possible
    variance-reduced readout — two exchanges end to end, both tiny past
    the first.
    """
    e = _timed_events(spark, sf_dir).select(
        "user_id",
        F.expr(spark_epoch_s()).cast("long").alias("es"),
        cents("value").alias("cents"),
    )
    b = e.agg(F.expr("(MIN(es) + MAX(es)) DIV 2").alias("mid"))
    pu = (
        e.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("es") < F.col("mid"), F.col("cents"))),
                F.lit(0),
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("es") >= F.col("mid"), F.col("cents"))),
                F.lit(0),
            ).alias("y"),
        )
    )
    v0 = F.col("user_id") % 2 == 0
    v1 = F.col("user_id") % 2 == 1
    # Per-user sums square in the second moments, so Σxy/Σx²/Σy² exceed
    # int64 under in-contract data (a long*long product sum would
    # silently WRAP here while the oracle's
    # HUGEINT→BIGINT pin raises — the worst divergence shape). Accumulate
    # in DECIMAL(38,0) and convert the final exact sum to double
    # (BigDecimal→double is correctly rounded; the oracle routes its
    # HUGEINT through VARCHAR for the same correctly-rounded result).
    x38 = F.col("x").cast("decimal(38,0)")
    y38 = F.col("y").cast("decimal(38,0)")
    m = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(x38 * F.col("y")).cast("double").alias("sxyd"),
        F.sum(x38 * F.col("x")).cast("double").alias("sxxd"),
        F.sum(y38 * F.col("y")).cast("double").alias("syyd"),
        F.count(F.when(v0, 1)).cast("long").alias("n0"),
        F.count(F.when(v1, 1)).cast("long").alias("n1"),
        F.coalesce(F.sum(F.when(v0, F.col("x"))), F.lit(0))
        .cast("long")
        .alias("sx0"),
        F.coalesce(F.sum(F.when(v0, F.col("y"))), F.lit(0))
        .cast("long")
        .alias("sy0"),
        F.coalesce(F.sum(F.when(v1, F.col("x"))), F.lit(0))
        .cast("long")
        .alias("sx1"),
        F.coalesce(F.sum(F.when(v1, F.col("y"))), F.lit(0))
        .cast("long")
        .alias("sy1"),
    )
    # NULLIF every denominator (the events_delta_method discipline): an
    # empty or one-variant population has n0/n1 = 0 and a constant
    # covariate has var(X) = 0 — silent NULL ANSI-off but a job-killing
    # DIVIDE_BY_ZERO under ANSI, where DuckDB yields NULL either way.
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxyd") - F.col("sx").cast("double") * F.col("sy")
    varx_n = nd * F.col("sxxd") - F.col("sx").cast("double") * F.col("sx")
    vary_n = nd * F.col("syyd") - F.col("sy").cast("double") * F.col("sy")
    n0d = F.nullif(F.col("n0").cast("double"), F.lit(0.0))
    n1d = F.nullif(F.col("n1").cast("double"), F.lit(0.0))
    raw = F.col("sy0").cast("double") / n0d - F.col("sy1").cast("double") / n1d
    xdiff = (
        F.col("sx0").cast("double") / n0d - F.col("sx1").cast("double") / n1d
    )
    theta = cov_n / F.nullif(varx_n, F.lit(0.0))
    return m.select(
        "n0",
        "n1",
        (raw / F.lit(100.0)).alias("raw_delta"),
        theta.alias("theta"),
        ((raw - theta * xdiff) / F.lit(100.0)).alias("cuped_delta"),
        (cov_n * cov_n / F.nullif(varx_n * vary_n, F.lit(0.0))).alias(
            "var_reduction_rho_sq"
        ),
    )


@query(
    "events_diff_in_diff",
    oracle=f"""
    WITH e AS (
      SELECT user_id, {oracle_epoch_s()} AS es,
             {oracle_cents('value')} AS cents
      FROM {oracle_events()} events
    ), b AS (
      SELECT (MIN(es) + MAX(es)) // 2 AS mid FROM e
    ), m AS (
      SELECT
        CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0 AND es < b.mid)
          AS BIGINT) AS n_c_pre,
        CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0 AND es >= b.mid)
          AS BIGINT) AS n_c_post,
        CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1 AND es < b.mid)
          AS BIGINT) AS n_t_pre,
        CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1 AND es >= b.mid)
          AS BIGINT) AS n_t_post,
        CAST(COALESCE(SUM(cents) FILTER (WHERE user_id % 2 = 0
          AND es < b.mid), 0) AS BIGINT) AS s_c_pre,
        CAST(COALESCE(SUM(cents) FILTER (WHERE user_id % 2 = 0
          AND es >= b.mid), 0) AS BIGINT) AS s_c_post,
        CAST(COALESCE(SUM(cents) FILTER (WHERE user_id % 2 = 1
          AND es < b.mid), 0) AS BIGINT) AS s_t_pre,
        CAST(COALESCE(SUM(cents) FILTER (WHERE user_id % 2 = 1
          AND es >= b.mid), 0) AS BIGINT) AS s_t_post
      FROM e CROSS JOIN b
    )
    -- NULLIF on each cell count: an empty cell (no events in a
    -- group-period) is NULL-mean on both engines — silent NULL ANSI-off
    -- but DIVIDE_BY_ZERO under ANSI.
    SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
           (CAST(s_t_post AS DOUBLE) / NULLIF(CAST(n_t_post AS DOUBLE), 0.0)
            - CAST(s_t_pre AS DOUBLE) / NULLIF(CAST(n_t_pre AS DOUBLE), 0.0))
             / 100.0 AS treated_delta,
           (CAST(s_c_post AS DOUBLE) / NULLIF(CAST(n_c_post AS DOUBLE), 0.0)
            - CAST(s_c_pre AS DOUBLE) / NULLIF(CAST(n_c_pre AS DOUBLE), 0.0))
             / 100.0 AS control_delta,
           ((CAST(s_t_post AS DOUBLE) / NULLIF(CAST(n_t_post AS DOUBLE), 0.0)
             - CAST(s_t_pre AS DOUBLE) / NULLIF(CAST(n_t_pre AS DOUBLE), 0.0))
            - (CAST(s_c_post AS DOUBLE) / NULLIF(CAST(n_c_post AS DOUBLE), 0.0)
               - CAST(s_c_pre AS DOUBLE)
                 / NULLIF(CAST(n_c_pre AS DOUBLE), 0.0))) / 100.0
             AS did_estimate
    FROM m
    """,
    tags=("events", "experimentation", "statistics", "did"),
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental estimator for a
    treatment that switches on at a point in time for one group: the
    treated group's pre→post mean change minus the control group's, which
    nets out the common time trend the naive pre/post delta confounds.
    Treated = odd user ids, period boundary = the integer midpoint of the
    event-time range (the same deterministic split as
    ``events_cuped_adjusted_delta``).

    Exact-moment recipe: the four cell counts and four cell sums
    accumulate as exact integer cents in ONE conditional-aggregation
    pass; the three reported deltas derive through identical IEEE double
    sequences, so the single-row readout hash-matches bit-for-bit.

    100 TB: one map-side-combined scan to 8 integers (the 1-row bounds
    table broadcasts) — cheaper than CUPED because no per-user rollup is
    needed; this is the cheapest causal readout there is.
    """
    e = _timed_events(spark, sf_dir).select(
        "user_id",
        F.expr(spark_epoch_s()).cast("long").alias("es"),
        cents("value").alias("cents"),
    )
    b = e.agg(F.expr("(MIN(es) + MAX(es)) DIV 2").alias("mid"))
    ctl = F.col("user_id") % 2 == 0
    trt = F.col("user_id") % 2 == 1
    pre = F.col("es") < F.col("mid")
    post = F.col("es") >= F.col("mid")

    def cell(cond, name_n, name_s):
        return [
            F.count(F.when(cond, 1)).cast("long").alias(name_n),
            F.coalesce(F.sum(F.when(cond, F.col("cents"))), F.lit(0))
            .cast("long")
            .alias(name_s),
        ]

    m = e.crossJoin(F.broadcast(b)).agg(
        *cell(ctl & pre, "n_c_pre", "s_c_pre"),
        *cell(ctl & post, "n_c_post", "s_c_post"),
        *cell(trt & pre, "n_t_pre", "s_t_pre"),
        *cell(trt & post, "n_t_post", "s_t_post"),
    )
    # NULLIF each cell count: empty cells must read as NULL means on
    # both engines, not DIVIDE_BY_ZERO under ANSI.
    def _nz(c: str):
        return F.nullif(F.col(c).cast("double"), F.lit(0.0))

    t_delta = (
        F.col("s_t_post").cast("double") / _nz("n_t_post")
        - F.col("s_t_pre").cast("double") / _nz("n_t_pre")
    )
    c_delta = (
        F.col("s_c_post").cast("double") / _nz("n_c_post")
        - F.col("s_c_pre").cast("double") / _nz("n_c_pre")
    )
    return m.select(
        "n_c_pre",
        "n_c_post",
        "n_t_pre",
        "n_t_post",
        (t_delta / F.lit(100.0)).alias("treated_delta"),
        (c_delta / F.lit(100.0)).alias("control_delta"),
        ((t_delta - c_delta) / F.lit(100.0)).alias("did_estimate"),
    )


def _hw_lnew(xm: str, sp: str, l: str, b: str) -> str:
    """The Holt-Winters level update as SQL text — repeated inline where
    the trend/seasonal updates need it (recursive CTEs cannot name a
    lateral intermediate, so both engines restate the identical
    expression; see ts_holt_forecast for the same pattern)."""
    return f"(5 * ({xm} - {sp}) + 5 * ({l} + {b})) DIV 10"


@query(
    "ts_holt_winters_forecast",
    oracle=(
        lambda _l: f"""
    WITH RECURSIVE e AS (
      -- event_type IS NOT NULL: the per-type recursion equi-joins on
      -- event_type and NULL never matches — DuckDB's recursive CTE
      -- silently lost the NULL-type series while Spark's groupBy kept it;
      -- a typeless series is unattributable, so both engines drop it.
      SELECT event_type, ({oracle_epoch_s()}) // {_DAY_S} AS day
      FROM {oracle_events()} events
      WHERE event_type IS NOT NULL
    ), daily AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS x
      FROM e GROUP BY event_type, day
    ), bounds AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1,
             CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    ), grid AS (
      SELECT event_type, unnest(generate_series(d0, d1)) AS day FROM bounds
    ), filled AS (
      SELECT g.event_type, g.day,
             ROW_NUMBER() OVER (PARTITION BY g.event_type
                                ORDER BY g.day) AS t,
             COALESCE(d.x, 0) * 1000 AS xm
      FROM grid g LEFT JOIN daily d USING (event_type, day)
    ), seed AS (
      SELECT event_type,
             SUM(xm) // 7 AS l, CAST(0 AS BIGINT) AS b,
             [{", ".join(
                 f"COALESCE(MAX(CASE WHEN ((day % 7) + 7) % 7 = {i} THEN xm END)"
                 f" - SUM(xm) // 7, 0)" for i in range(7))}] AS s
      FROM filled WHERE t <= 7 GROUP BY event_type
    ), rec AS (
      SELECT event_type, CAST(7 AS BIGINT) AS t, l, b, s FROM seed
      UNION ALL
      SELECT r.event_type, r.t + 1,
             {_l("f.xm", "r.s[CAST(((f.day % 7) + 7) % 7 AS INT) + 1]", "r.l", "r.b")},
             (3 * (({_l("f.xm", "r.s[CAST(((f.day % 7) + 7) % 7 AS INT) + 1]", "r.l",
                       "r.b")}) - r.l) + 7 * r.b) // 10,
             list_transform([0, 1, 2, 3, 4, 5, 6],
               i -> CASE WHEN i = CAST(((f.day % 7) + 7) % 7 AS INT)
                    THEN (2 * (f.xm
                          - ({_l("f.xm",
                                 "r.s[CAST(((f.day % 7) + 7) % 7 AS INT) + 1]",
                                 "r.l", "r.b")}))
                          + 8 * r.s[i + 1]) // 10
                    ELSE r.s[i + 1] END)
      FROM rec r JOIN filled f
        ON f.event_type = r.event_type AND f.t = r.t + 1
    )
    SELECT r.event_type, bo.n_days,
           CAST(r.l AS BIGINT) AS level_milli,
           CAST(r.b AS BIGINT) AS trend_milli,
           {", ".join(
               f"CAST(r.s[{i + 1}] AS BIGINT) AS s{i}_milli"
               for i in range(7))},
           CAST(r.l + 7 * r.b + r.s[CAST(((bo.d1 % 7) + 7) % 7 AS INT) + 1] AS BIGINT)
             AS forecast_7d_milli
    FROM rec r
    JOIN bounds bo ON r.event_type = bo.event_type
     AND r.t = GREATEST(bo.n_days, 7)
    """
    )(lambda xm, sp, l, b: f"(5 * ({xm} - {sp}) + 5 * ({l} + {b})) // 10"),
    tags=("events", "timeseries", "forecast", "holt-winters"),
)
def ts_holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing — level, trend,
    and a 7-slot day-of-week seasonal state — with a 7-day-ahead forecast:
    the seasonality-aware upgrade of ``ts_holt_forecast`` (and the model
    `ts_seasonal_decompose` diagnoses statically, now tracked online).
    α=1/2, β=3/10, γ=1/5 as integer ratios.

    The order-dependent recursion carries an ARRAY in its state (the
    seasonal vector), and still runs bit-identically on both engines:
    every update is exact integer milli-unit arithmetic with truncating
    division, the seasonal slot rewrite is an index-conditional array
    rebuild (Spark ``transform`` ≡ DuckDB ``list_transform``), and the
    seed is a closed-form aggregation over the first seven grid days
    (l₀ = 7-day integer mean, s = that week's deviations, b₀ = 0). The
    level expression is restated inline where trend/seasonal need it —
    recursive SQL cannot name a lateral intermediate, so both engines
    repeat the identical text (the ts_holt_forecast pattern).

    Scale shape: identical to Holt — one map-side-combined daily rollup,
    map-side dense-grid generation, then a per-SERIES fold whose state is
    one struct of 2 ints + a 7-int array regardless of history length.
    The 7-day-ahead forecast lands on the same day-of-week as the last
    observation, so it reads the just-updated seasonal slot.
    """
    # Typeless events dropped on both engines — see the oracle CTE note.
    e = (
        _timed_events(spark, sf_dir)
        .filter(F.col("event_type").isNotNull())
        .select("event_type", F.expr(spark_epoch_s()).cast("long").alias("es"))
    )
    daily = (
        e.select("event_type", (F.col("es") / _DAY_S).cast("long").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        (F.max("day") - F.min("day") + 1).cast("long").alias("n_days"),
    )
    grid = bounds.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    filled = (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            (F.coalesce(F.col("x"), F.lit(0)) * 1000).alias("xm"),
        )
        .withColumn(
            "t",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            ),
        )
    )
    seed = (
        filled.filter(F.col("t") <= 7)
        .groupBy("event_type")
        .agg(
            F.expr("SUM(xm) DIV 7").alias("l0"),
            F.array(
                *[
                    F.expr(
                        f"COALESCE(MAX(CASE WHEN pmod(day, 7) = {i} THEN xm END)"
                        f" - SUM(xm) DIV 7, 0)"
                    )
                    for i in range(7)
                ]
            ).alias("s0"),
        )
    )
    series = (
        filled.filter(F.col("t") >= 8)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list(F.struct("day", "xm"))).alias("xs"))
    )
    lnew = _hw_lnew(
        "e.xm", "element_at(acc.s, CAST(pmod(e.day, 7) AS INT) + 1)", "acc.l",
        "acc.b",
    )
    fold = F.expr(
        f"""
        aggregate(xs,
          named_struct('l', l0, 'b', CAST(0 AS BIGINT), 's', s0),
          (acc, e) -> named_struct(
            'l', {lnew},
            'b', (3 * (({lnew}) - acc.l) + 7 * acc.b) DIV 10,
            's', transform(sequence(0, 6),
                   i -> IF(i = pmod(e.day, 7),
                           (2 * (e.xm - ({lnew}))
                            + 8 * element_at(acc.s, CAST(i AS INT) + 1))
                             DIV 10,
                           element_at(acc.s, CAST(i AS INT) + 1)))))
        """
    )
    # left join: a type with < 8 grid days has no series row — its state is
    # the seed itself, matching the oracle's rec anchor at t = 7.
    st = (
        seed.join(series, "event_type", "left")
        .join(bounds.select("event_type", "d1", "n_days"), "event_type")
        .select(
            "event_type",
            "n_days",
            "d1",
            F.when(F.col("xs").isNull(),
                   F.expr("named_struct('l', l0, 'b', CAST(0 AS BIGINT),"
                          " 's', s0)"))
            .otherwise(fold)
            .alias("st"),
        )
    )
    return st.select(
        "event_type",
        "n_days",
        F.col("st.l").alias("level_milli"),
        F.col("st.b").alias("trend_milli"),
        *[
            F.expr(f"element_at(st.s, {i + 1})").alias(f"s{i}_milli")
            for i in range(7)
        ],
        F.expr(
            "st.l + 7 * st.b + element_at(st.s, CAST(pmod(d1, 7) AS INT) + 1)"
        ).alias("forecast_7d_milli"),
    )


# Shapley weight lattice for k = 3 channels (bits: view=1, click=2,
# signup=4): for each channel, the subsets S of the OTHER channels with
# |S|!·(k−|S|−1)! — {2, 1, 1, 2}, denominator 3! = 6.
_SHAPLEY_W = [
    ("click", 2, 0, 2), ("click", 2, 1, 1), ("click", 2, 4, 1),
    ("click", 2, 5, 2),
    ("signup", 4, 0, 2), ("signup", 4, 1, 1), ("signup", 4, 2, 1),
    ("signup", 4, 3, 2),
    ("view", 1, 0, 2), ("view", 1, 2, 1), ("view", 1, 4, 1),
    ("view", 1, 6, 2),
]

_SHAPLEY_W_SQL = ", ".join(
    f"('{ch}', {cbit}, {smask}, {wt})" for ch, cbit, smask, wt in _SHAPLEY_W
)


@query(
    "events_shapley_attribution",
    oracle=f"""
    WITH conv AS (
      SELECT user_id, MIN(ts) AS fp FROM {oracle_events()} events
      WHERE event_type = 'purchase' GROUP BY user_id
    ), touched AS (
      SELECT c.user_id,
        MAX(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END) * 1
        + MAX(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) * 2
        + MAX(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END) * 4
          AS mask
      FROM conv c
      LEFT JOIN events e
        ON e.user_id = c.user_id AND e.ts < c.fp
           AND e.event_type IN ('view', 'click', 'signup')
      GROUP BY c.user_id
    ), cnt AS (
      SELECT mask, COUNT(*) AS n FROM touched GROUP BY mask
    ), subsets AS (
      SELECT unnest(generate_series(0, 7)) AS s
    ), v AS (
      SELECT s.s, COALESCE(SUM(c.n), 0) AS vv
      FROM subsets s LEFT JOIN cnt c ON (c.mask & s.s) = c.mask
      GROUP BY s.s
    ), w AS (
      SELECT * FROM (VALUES {_SHAPLEY_W_SQL}) AS t(ch, cbit, smask, wt)
    ), phi AS (
      SELECT w.ch, SUM(w.wt * (vc.vv - vs.vv)) AS phi_sixths
      FROM w
      JOIN v vs ON vs.s = w.smask
      JOIN v vc ON vc.s = w.smask + w.cbit
      GROUP BY w.ch
    ), tot AS (SELECT SUM(phi_sixths) AS t FROM phi)
    SELECT
      ch AS channel,
      CAST(phi_sixths AS BIGINT) AS phi_sixths,
      CAST(CASE WHEN t.t = 0 THEN 0
           ELSE phi_sixths * 1000000 // t.t END AS BIGINT) AS share_ppm
    FROM phi CROSS JOIN tot t
    ORDER BY channel
    """,
    tags=("events", "attribution", "shapley", "causal"),
)
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution — the game-theoretic upgrade to
    `events_attribution_multitouch`'s positional rules: each converting
    user's pre-first-purchase touch set defines a coalition, the
    characteristic function v(S) counts conversions reachable with
    channels ⊆ S, and each channel's credit is its exact Shapley value —
    the factorially-weighted average marginal contribution over all
    channel orderings (Shapley 1953, as applied to ad attribution).

    Exactness: with k = 3 channels the factorial weights are the
    integers {{2, 1, 1, 2}} over denominator 3! — φ is emitted in exact
    SIXTHS (no division until the final integer ppm share), so the row
    hashes bit-for-bit. Coalitions are 3-bit masks; v(S) is a subset-sum
    computed by a bitwise-containment join over the 8-row lattice.

    Scale shape: the corpus collapses to an 8-row exact-touch-set
    histogram in two aggregations (first-purchase timestamps, then
    per-user masks — both one shuffle on user_id); the entire Shapley
    computation runs on 8 + 12 broadcast rows. k more channels grows the
    lattice 2^k but never touches the corpus-side cost.
    """
    e = _timed_events(spark, sf_dir)
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    # Left join + strictly-before filter must keep untouched converters
    # (mask 0): pre-filter the touch side, then left-join on user only.
    t = (
        e.filter(F.col("event_type").isin("view", "click", "signup"))
        .select("user_id", "ts", "event_type")
    )
    joined = conv.join(t, "user_id", "left").select(
        "user_id",
        F.when(
            F.col("ts").isNotNull() & (F.col("ts") < F.col("fp")),
            F.col("event_type"),
        ).alias("et"),
    )
    touched = joined.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("et") == "view", 1).otherwise(0)) * 1
            + F.max(F.when(F.col("et") == "click", 1).otherwise(0)) * 2
            + F.max(F.when(F.col("et") == "signup", 1).otherwise(0)) * 4
        ).alias("mask")
    )
    cnt = touched.groupBy("mask").agg(F.count(F.lit(1)).alias("n"))
    subsets = spark.createDataFrame([(s,) for s in range(8)], "s int")
    v = (
        F.broadcast(subsets)
        .join(cnt, F.expr("(mask & s) = mask"), "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("vv"))
    )
    w = spark.createDataFrame(
        _SHAPLEY_W, "ch string, cbit int, smask int, wt int"
    )
    vs = v.alias("vs")
    vc = v.alias("vc")
    phi = (
        w.join(vs, F.col("vs.s") == F.col("smask"))
        .join(vc, F.col("vc.s") == F.col("smask") + F.col("cbit"))
        .groupBy("ch")
        .agg(
            F.sum(F.col("wt") * (F.col("vc.vv") - F.col("vs.vv"))).alias(
                "phi_sixths"
            )
        )
    )
    tot = phi.agg(F.sum("phi_sixths").alias("t"))
    return (
        phi.crossJoin(F.broadcast(tot))
        .select(
            F.col("ch").alias("channel"),
            F.col("phi_sixths").cast("long").alias("phi_sixths"),
            F.expr(
                "CAST(CASE WHEN t = 0 THEN 0"
                " ELSE phi_sixths * 1000000 DIV t END AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("channel")
    )


@query(
    "events_longest_streak",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id, ({oracle_epoch_s()}) // 86400 AS day
      FROM {oracle_events()} events
    ), isl AS (
      SELECT user_id, day,
             day - DENSE_RANK() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ), streaks AS (
      SELECT user_id, island, COUNT(*) AS len
      FROM isl GROUP BY user_id, island
    ), best AS (
      SELECT user_id, MAX(len) AS streak FROM streaks GROUP BY user_id
    )
    SELECT CAST(streak AS BIGINT) AS streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM best GROUP BY streak ORDER BY streak_days
    """,
    tags=("events", "window", "gaps-islands"),
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of CONSECUTIVE active
    days — the canonical streak/retention metric (and the canonical SQL
    island trick: day − dense_rank(day) is constant exactly within a
    consecutive run, so islands fall out of one keyed window plus a
    group-by, no self-joins, no recursion). Readout is the user
    distribution by longest-streak length.

    Day numbers are exact NTZ epoch-second integer division (the
    session-timezone-proof form every events query uses), so islands and
    the histogram are exact integers. Scale shape: one shuffle on
    user_id for the window, then per-user aggregation — the same
    single-key-shuffle budget as `join_asof`; the histogram output is
    O(max streak) rows.
    """
    e = _timed_events(spark, sf_dir)
    days = e.select(
        "user_id", F.expr(f"({spark_epoch_s()}) DIV 86400").alias("day")
    ).distinct()
    isl = days.select(
        "user_id",
        "day",
        (
            F.col("day")
            - F.dense_rank().over(
                Window.partitionBy("user_id").orderBy("day")
            )
        ).alias("island"),
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    best = streaks.groupBy("user_id").agg(F.max("len").alias("streak"))
    return (
        best.groupBy(F.col("streak").cast("long").alias("streak_days"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("streak_days")
    )


_POWERLAW_ACT_SQL = """
    WITH ud AS (
      -- The FULL module-wide dead-letter wrap (_timed_events) — see the
      -- matching note on _KM_RISK_SQL; an all-NULL-ts user otherwise
      -- inflates the oracle's cohort n_users literal.
      SELECT DISTINCT user_id, ({es}) // 86400 AS day
      FROM {events} pl_e
    ), fd AS (
      SELECT user_id, MIN(day) AS f FROM ud GROUP BY user_id
    ), coh AS (SELECT COUNT(*) AS n_users FROM fd),
    act AS (
      SELECT ud.day - fd.f AS k, COUNT(DISTINCT ud.user_id) AS active
      FROM ud JOIN fd ON fd.user_id = ud.user_id
      WHERE ud.day - fd.f >= 1
      GROUP BY ud.day - fd.f
    )
"""


def _powerlaw_oracle(sf_dir: str) -> str:
    """Data-dependent oracle (the ml_woe_binning pattern): DuckDB
    recomputes the day-offset active table itself, but every ln enters as
    a Python-decimal micro-nat literal (functions/exactlog.py) — the same
    integers the Spark plan inlines, so no libm boundary exists in either
    engine. A literal/act mismatch would drop rows via the inner joins
    and fail the gate loudly."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_values_sql,
    )

    con = duckdb.connect()
    body = _POWERLAW_ACT_SQL.format(
        es=oracle_epoch_s(),
        events=oracle_events(f"read_parquet('{sf_dir}/events.parquet')"),
    )
    rows = con.execute(
        body + " SELECT act.k, act.active, coh.n_users FROM act, coh"
    ).fetchall()
    con.close()
    args = {r[0] for r in rows} | {r[1] for r in rows} | {
        r[2] for r in rows
    }
    body = _POWERLAW_ACT_SQL.format(es=oracle_epoch_s(), events=oracle_events())
    return f"""
    {body},
    ln_tab(n, micro) AS (VALUES {micro_nat_values_sql(args or [1])}),
    pts AS (
      SELECT lk.micro AS x, la.micro - lc.micro AS y
      FROM act
      JOIN coh ON TRUE
      JOIN ln_tab lk ON lk.n = act.k
      JOIN ln_tab la ON la.n = act.active
      JOIN ln_tab lc ON lc.n = coh.n_users
    ), m AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM pts
    ), kk AS (
      SELECT *,
        n * sxy - sx * sy AS num,
        n * sxx - sx * sx AS denx,
        n * syy - sy * sy AS deny
      FROM m
    )
    SELECT
      CAST(n AS BIGINT) AS n_points,
      -- num/denx/deny are HUGEINT products-of-sums past 2^53: VARCHAR-
      -- routed conversion is correctly rounded on any DuckDB build,
      -- matching Spark's int64->double path
      CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(denx AS VARCHAR) AS DOUBLE) AS powerlaw_exponent,
      ((CAST(sy AS DOUBLE)
        - (CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(denx AS VARCHAR) AS DOUBLE)) * CAST(sx AS DOUBLE))
       / CAST(n AS DOUBLE)) / 1e6 AS ln_intercept,
      (CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(denx AS VARCHAR) AS DOUBLE))
        * (CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(deny AS VARCHAR) AS DOUBLE)) AS r_squared
    FROM kk
    """


@query(
    "events_retention_powerlaw",
    oracle_builder=_powerlaw_oracle,
    tags=("events", "retention", "powerlaw", "regression"),
)
def events_retention_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law retention decay fit — the one-number summary growth
    teams put on dashboards: regress ln(active at day-offset k) on ln(k)
    and report the decay exponent b of retention ∝ k^b (plus fit R²).

    Exactness (by construction, the ml_woe_binning pattern): both logs quantize
    to integer micro-nats computed ONCE in Python decimal arithmetic
    (functions/exactlog.py) over the bounded argument domain — day offsets,
    active counts, cohort size — and the identical integer literals enter the
    Spark plan (literal map lookup) and the DuckDB oracle (literal VALUES
    join). Neither engine runs ln, so the JVM-vs-libm ulp boundary the old
    round(1e6*ln(n)) carried is gone. The OLS readout stays
    ml_linreg_normal_eq's exact integer moments with the
    identical-double-sequence closed form, so the fitted doubles hash
    bit-for-bit.

    Scale shape: two shuffles on user_id (distinct days, first-day join)
    collapse the corpus to <=|days| offset rows; that calendar-bounded
    table is cached and collected (O(days) driver state) to derive the
    literal ln table, then the cached copy feeds the regression — the
    corpus is scanned exactly once. The k >= 1 filter drops the
    trivially-full day-0 point, and absolute active counts (not ratios)
    keep the log arguments integral — the cohort constant moves into
    the intercept.
    """
    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat_map,
    )

    e = _timed_events(spark, sf_dir)
    ud = e.select(
        "user_id", F.expr(f"({spark_epoch_s()}) DIV 86400").alias("day")
    ).distinct()
    fd = ud.groupBy("user_id").agg(F.min("day").alias("f"))
    coh = fd.agg(F.count(F.lit(1)).alias("n_users"))
    act = (
        ud.join(fd, "user_id")
        .select((F.col("day") - F.col("f")).alias("k"), "user_id")
        .filter(F.col("k") >= 1)
        .groupBy("k")
        .agg(F.count_distinct("user_id").alias("active"))
    )
    base = act.crossJoin(F.broadcast(coh)).cache()
    pts_rows = base.collect()  # <=|calendar days| rows — bounded collect
    mp = micro_nat_map(
        {r["k"] for r in pts_rows}
        | {r["active"] for r in pts_rows}
        | {r["n_users"] for r in pts_rows}
        or {1}
    )
    pts = base.select(
        mp[F.col("k").cast("long")].alias("x"),
        (
            mp[F.col("active").cast("long")]
            - mp[F.col("n_users").cast("long")]
        ).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    kk = m.select(
        "*",
        F.expr("n * sxy - sx * sy").alias("num"),
        F.expr("n * sxx - sx * sx").alias("denx"),
        F.expr("n * syy - sy * sy").alias("deny"),
    )
    return kk.select(
        F.col("n").cast("long").alias("n_points"),
        F.expr("CAST(num AS DOUBLE) / CAST(denx AS DOUBLE)").alias(
            "powerlaw_exponent"
        ),
        F.expr(
            "((CAST(sy AS DOUBLE)"
            " - (CAST(num AS DOUBLE) / CAST(denx AS DOUBLE))"
            "   * CAST(sx AS DOUBLE))"
            " / CAST(n AS DOUBLE)) / 1e6"
        ).alias("ln_intercept"),
        F.expr(
            "(CAST(num AS DOUBLE) / CAST(denx AS DOUBLE))"
            " * (CAST(num AS DOUBLE) / CAST(deny AS DOUBLE))"
        ).alias("r_squared"),
    )


@query(
    "ts_interpolate_linear",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ({oracle_epoch_s()}) // {_DAY_S} AS day
      FROM {oracle_events()} events
    ), daily AS (
      SELECT user_id, day, COUNT(*) AS n_ev FROM e GROUP BY user_id, day
    ), bounds AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
      GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM bounds
    ), j AS (
      SELECT g.user_id, g.day, d.n_ev
      FROM grid g LEFT JOIN daily d USING (user_id, day)
    ), anchored AS (
      SELECT
        user_id, day, n_ev,
        last_value(n_ev IGNORE NULLS) OVER wb AS pv,
        last_value(CASE WHEN n_ev IS NOT NULL THEN day END IGNORE NULLS)
          OVER wb AS pd,
        first_value(n_ev IGNORE NULLS) OVER wf AS nv,
        first_value(CASE WHEN n_ev IS NOT NULL THEN day END IGNORE NULLS)
          OVER wf AS nd
      FROM j
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT
      user_id,
      CAST(day AS BIGINT) AS day,
      CAST(CASE WHEN n_ev IS NOT NULL THEN n_ev * 1000
           ELSE (pv * (nd - day) + nv * (day - pd)) * 1000 // (nd - pd)
           END AS BIGINT) AS interp_milli,
      CAST(CASE WHEN n_ev IS NULL THEN 1 ELSE 0 END AS INTEGER)
        AS is_interpolated
    FROM anchored
    """,
    tags=("events", "timeseries", "gapfill", "window", "interpolation"),
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of gaps in each user's daily event-count
    series — LOCF's sibling (``ts_gap_fill_locf``) for metrics where a
    straight line between anchors beats a step function.

    The dense grid comes from per-user ``sequence(d0, d1)`` (map-side, one
    input row per user); backward/forward anchor values AND anchor days
    ride two frames of the SAME (user_id, day) sort — Spark plans one
    sort, two window passes, zero extra shuffles past the grid join. Grid
    endpoints are observed days by construction, so every interior null
    has strict anchors on both sides and the denominator is ≥ 2.

    Exactness: the lerp is the convex-combination form
    ``(pv·(nd−day) + nv·(day−pd))·1000 // (nd−pd)`` — all-integer. Both
    engines truncate toward zero (DuckDB ``//`` and Spark ``DIV`` alike,
    verified on negative operands — see ``ts_seasonal_decompose``), so the
    division agrees unconditionally; the numerator happens to be
    nonnegative here, which makes floor and trunc coincide anyway. No
    float enters the result; milli-count units keep three decimals of
    slope without touching IEEE division.
    """
    e = _events_es(spark, sf_dir).select(
        "user_id", (F.col("es") / _DAY_S).cast("long").alias("day")
    )
    daily = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n_ev"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    anchored = j.select(
        "user_id",
        "day",
        "n_ev",
        F.last("n_ev", ignorenulls=True).over(wb).alias("pv"),
        F.last(
            F.when(F.col("n_ev").isNotNull(), F.col("day")), ignorenulls=True
        ).over(wb).alias("pd"),
        F.first("n_ev", ignorenulls=True).over(wf).alias("nv"),
        F.first(
            F.when(F.col("n_ev").isNotNull(), F.col("day")), ignorenulls=True
        ).over(wf).alias("nd"),
    )
    return anchored.select(
        "user_id",
        F.col("day").cast("long").alias("day"),
        F.when(
            F.col("n_ev").isNotNull(), F.col("n_ev") * 1000
        )
        .otherwise(
            F.expr(
                "(pv * (nd - day) + nv * (day - pd)) * 1000 DIV (nd - pd)"
            )
        )
        .cast("long")
        .alias("interp_milli"),
        F.when(F.col("n_ev").isNull(), 1).otherwise(0).cast("int").alias(
            "is_interpolated"
        ),
    )


@query(
    "ts_downsample_m4",
    oracle=f"""
    WITH e AS (
      -- value IS NOT NULL: a point with no value cannot be plotted, and
      -- the engines disagree on it — DuckDB's arg_min/arg_max SKIP
      -- NULL-valued rows while Spark's min_by/max_by return the NULL;
      -- min/max skip it on both anyway.
      SELECT event_id, value,
             {oracle_epoch_s()} AS es
      FROM {oracle_events()} events
      WHERE value IS NOT NULL
    ), st AS (
      SELECT MIN(es) AS mn, MAX(es) AS mx FROM e
    ), b AS (
      SELECT (es - mn) * 48 // (mx - mn + 1) AS bucket,
             value,
             CAST(es - mn AS HUGEINT) * 10000000000 + event_id AS ord
      FROM e, st
    )
    SELECT
      CAST(bucket AS BIGINT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n_points,
      MIN(value) AS v_min,
      MAX(value) AS v_max,
      arg_min(value, ord) AS v_first,
      arg_max(value, ord) AS v_last
    FROM b GROUP BY bucket
    """,
    tags=("timeseries", "downsample", "m4", "events"),
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): split the
    series' time range into 48 equal "pixel" buckets and keep each
    bucket's min, max, first, and last value — the four points per pixel
    that make a line chart of the reduced series pixel-identical to the
    full one. The standard dashboard/observability reducer for plotting
    100 TB of points on a 4K monitor.

    Exactness: min/max/first/last SELECT input doubles untouched — no
    float arithmetic ever happens, so both engines emit bit-identical
    values. First/last use `min_by`/`max_by` (`arg_min`/`arg_max`) on a
    UNIQUE integer ordering key — range-relative epoch seconds scaled by
    1e10 plus the unique event_id (the `agg_extrema_argminmax`
    determinism trick). The key accumulates in DECIMAL(38,0)/HUGEINT
    (an 80-year time range puts es·1e10 past
    int64, where Spark silently WRAPPED while DuckDB raised — the
    garbage-vs-error shape; 128-bit headroom covers any range to ~29
    billion years). One precondition remains: event_id < 1e10, or the
    addition bleeds into the seconds digits and the key is no longer
    lexicographic (es, event_id) — re-derive the multiplier from the
    actual max event_id for larger id domains. Bucket assignment is pure
    integer floor division of range-relative seconds (nonnegative by
    construction, so //-vs-DIV truncation direction is moot).

    Scale shape: one 2-value global agg (map-side partials) broadcasts
    the time range; bucketing is then a map, and the rollup is a single
    two-phase hash aggregate whose shuffle carries at most
    48 x 4 values per upstream partition — O(pixels), not O(points),
    exactly why M4 is THE big-data viz reducer. No sort, no window.
    """
    # NULL-value points excluded on both engines — see the oracle note.
    e = (
        _timed_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_id", "value", F.expr(spark_epoch_s()).cast("long").alias("es"))
    )
    st = e.agg(F.min("es").alias("mn"), F.max("es").alias("mx"))
    b = e.crossJoin(F.broadcast(st)).select(
        F.expr("(es - mn) * 48 DIV (mx - mn + 1)").cast("long").alias(
            "bucket"
        ),
        "value",
        F.expr(
            "CAST(es - mn AS DECIMAL(38,0)) * 10000000000 + event_id"
        ).alias("ord"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min_by("value", "ord").alias("v_first"),
        F.max_by("value", "ord").alias("v_last"),
    )
