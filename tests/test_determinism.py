"""Properties behind the engine's cross-engine hashing guarantees.

The whole correctness gate rests on two claims (functions/exprs.py):
  1. casting a ≤2-decimal money double to DECIMAL(30,6) recovers its exact
     decimal value (no rounding ties), and
  2. decimal sums are partitioning-independent — any repartitioning of the
     same rows yields bit-identical aggregates.
Claim 1 is checked exhaustively-ish with hypothesis (pure Python, no JVM);
claim 2 with real Spark jobs under adversarial partitionings.
"""

from __future__ import annotations

import datetime
import os
import sys
from decimal import Decimal

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
from degenerate_parity_sweep import _UNICODE_TEXTS  # noqa: E402


@given(
    cents=st.integers(min_value=-(10**12), max_value=10**12),
)
@settings(max_examples=500, deadline=None)
def test_two_decimal_double_to_decimal6_is_exact(cents: int):
    """Every 2-decimal money value, stored as the nearest double, quantizes
    back to its true decimal at scale 6 — the float→decimal(30,6) cast can
    never land on a rounding tie."""
    true = Decimal(cents) / 100  # the intended money value
    dbl = float(true)  # what parquet stores
    # scale-6 quantization of the double (round-half-even, like both engines'
    # shortest-roundtrip-then-quantize path)
    q = Decimal(repr(dbl)).quantize(Decimal("0.000001"))
    assert q == true.quantize(Decimal("0.000001"))


def test_dsum_partitioning_invariant(spark):
    """dsum must be bit-identical under 1, 7, and 32 partitions, including a
    catastrophic-cancellation mix that breaks plain double sums."""
    from biglake_iceberg_python_spark.functions.exprs import dsum

    vals = (
        [0.01] * 1000
        + [123456789.12, -123456789.12] * 50
        + [9.99, -0.03, 1e8, -1e8] * 25
    )
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    results = set()
    for n in (1, 7, 32):
        out = df.repartition(n).agg(dsum("x", "s")).collect()[0]["s"]
        results.add(out.hex())  # bit pattern, not ==, to catch -0.0/ulp drift
    assert len(results) == 1, results


def test_fold_dot_matches_duckdb_bit_for_bit(spark):
    """The codegen fold-dot (zip_with + aggregate) must equal DuckDB's
    list_dot_product on the same doubles — the invariant every cosine
    score in similarity.py relies on."""
    import duckdb

    from biglake_iceberg_python_spark.operators.similarity import _dot

    a = [0.1, -2.5, 3.75, 1e-8, 123.456] * 4
    b = [7.25, 0.3, -1.125, 2e8, -0.001] * 4
    spark_val = (
        spark.range(1)
        .select(
            _dot(
                F.array(*[F.lit(x) for x in a]), F.array(*[F.lit(y) for y in b])
            ).alias("d")
        )
        .collect()[0]["d"]
    )
    duck_val = duckdb.connect().execute(
        "SELECT list_dot_product(?::DOUBLE[], ?::DOUBLE[])", [a, b]
    ).fetchone()[0]
    assert spark_val.hex() == duck_val.hex()


def test_query_results_partition_invariant(spark, sf_dir):
    """End-to-end partitioning independence: a representative query from
    each exactness family must return BIT-IDENTICAL rows under 3 and 32
    shuffle partitions. This is the property the primitive tests above
    exist to serve — any order-dependent float accumulation that slipped
    into a query would show up here as low-bit drift between layouts."""
    from biglake_iceberg_python_spark.plans.registry import load_all

    registry = load_all()
    sample = [
        "pricing_summary",          # decimal-exact money aggregation
        "agg_corr_covar",           # DECIMAL(38,0) moment sums → doubles
        "agg_skew_kurtosis",        # 3rd/4th power sums
        "anomaly_zscore_daily",     # integer moments → z formula
        "events_ab_welch_ttest",    # conditional moment pass
        "events_user_entropy",      # micro-nat quantized ln terms
        "text_lm_perplexity",       # quantize-before-sum log-probs
        "text_bm25_search",         # quantized idf·tfnorm + top-k
        "ts_ewma_decay",            # integer-literal weighted sums
        "customer_gini_spend",      # rank-weighted integer sums
        "agg_weighted_median",      # two-phase cumsum threshold pick
        "events_outlier_mad",       # two-phase median + MAD ranks
        "curate_winsorize",         # two-phase percentile cutoffs
        "dedup_substring_spans",    # fingerprint join + interval merge
        "graph_pagerank",           # quantized iterative contributions
        "events_bootstrap_ci_daily_mean",  # md5-resample order statistics
        "events_anova_hour_of_week",       # floored SSB terms
        "events_changepoint_cusum",        # n-scaled integer cusum
        "events_ratio_metric_delta_ci",    # decimal cross-moments
        "supplier_concentration_hhi",      # picounit-quantized shares
        "events_peak_concurrency",         # sweep-line running sum
        "agg_countmin_sketch",             # polynomial-hash cell counts
        "text_rake_keywords",              # integer floor-div word scores
        "ts_holt_forecast",                # sorted-fold integer recursion
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        drifted = []
        for name in sample:
            outs = []
            for n in ("3", "32"):
                spark.conf.set("spark.sql.shuffle.partitions", n)
                rows = registry[name].fn(spark, sf_dir).collect()
                outs.append(
                    sorted(
                        tuple(
                            v.hex() if isinstance(v, float) else v
                            for v in row
                        )
                        for row in rows
                    )
                )
            if outs[0] != outs[1]:
                drifted.append(name)
        assert not drifted, f"partition-dependent results: {drifted}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_asof_same_instant_ties_cross_engine(spark, tmp_path):
    """Round-6 verdict #2: every asof variant (and the interval-overlap
    sessionizer) must stay hash-identical to its oracle on data with
    INJECTED same-instant rows — the tie class the generated testdata
    happens not to contain. The (ts, event_type) / (es, event_id) window
    tie-breaks are what make this pass; without them ROWS-frame contents
    are engine-dependent."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biglake_iceberg_python_spark.plans.check import (
        compare,
        duckdb_connect,
    )
    from biglake_iceberg_python_spark.plans.registry import load_all

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []

    def add(u, sec, et, us=0):
        rows.append(
            (
                len(rows) + 1,
                base + dt.timedelta(seconds=sec, microseconds=us),
                u,
                et,
                float(len(rows) + 1),
                "{}",
            )
        )

    for u in (1, 2, 3):
        add(u, 0, "purchase")
        add(u, 0, "click")  # same instant as the purchase (sorts before it)
        add(u, 0, "view")  # same instant, sorts after 'purchase'
        add(u, 10, "error")
        add(u, 10, "purchase")  # error/purchase at one instant
        add(u, 3600 * 7, "click")  # beyond the 6h staleness tolerance
        add(u, 3600 * 7, "purchase")
    # same-SECOND, different-µs pair: es collides after date_trunc, so the
    # interval sessionizer's running sum needs the event_id tie-break
    add(1, 20, "click", us=100)
    add(1, 20, "view", us=200)

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    registry = load_all()
    con = duckdb_connect(str(tmp_path))
    for name in (
        "join_asof",
        "join_asof_forward",
        "join_asof_tolerance",
        "join_asof_nearest",
        "join_interval_overlap",
    ):
        spec = registry[name]
        r = compare(spec.fn(spark, str(tmp_path)), con, spec.oracle)
        assert r["ok"], (name, r)


def test_stream_chunk_tie_at_boundary_cross_engine(spark, tmp_path):
    """A same-instant block STRADDLING a staging chunk boundary must split
    identically in the pyarrow staging sort and the oracle's row_number —
    the (ts, event_id) two-key order on both sides is what pins it.

    Geometry is chosen so every watermark-lag model the engine might
    apply agrees on which rows are late (the tied block straddles the
    chunk1|chunk2 boundary; chunk1 arrives FIRST, chunk2 LAST, and by
    then the watermark is hours past the tied window under one- and
    two-batch-lag models alike — the engine's late filter was measured
    to lag the reported watermark by one extra batch, so a geometry
    where the models diverge would test the lag model, not the tie):
    n=16 rows, bounds [0,4,8,12,16]; six tied purchases at rn 6..11, so
    ids 7,8 land in chunk1 (survive) and ids 9..12 in chunk2 (dropped).
    An engine splitting the tie differently changes the surviving count.
    """
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biglake_iceberg_python_spark.plans.check import (
        compare,
        duckdb_connect,
    )
    from biglake_iceberg_python_spark.plans.registry import load_all

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []

    def add(sec, et, us=0):
        rows.append(
            (
                len(rows) + 1,
                base + dt.timedelta(seconds=sec, microseconds=us),
                1 + len(rows) % 3,
                et,
                float(len(rows) + 1),
                "{}",
            )
        )

    for s in (0, 1, 2, 3):  # chunk0: filtered out entirely (clicks)
        add(s, "click")
    add(300, "purchase")  # chunk1 head
    add(301, "purchase")
    for _ in range(6):  # the tied block: rn 6..11 straddles bound rn=8
        add(420, "purchase")
    for s in (0, 1, 2, 3):  # chunk3: 7h later, drives the watermark
        add(3600 * 7 + s, "purchase")

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    registry = load_all()
    con = duckdb_connect(str(tmp_path))
    spec = registry["stream_late_data_drop"]
    df = spec.fn(spark, str(tmp_path))
    r = compare(df, con, spec.oracle)
    assert r["ok"], r
    # Pin the absolute expectation too, not just cross-engine agreement:
    # survivors = chunk1's 4 (2 head + first 2 of the tie) + chunk3's 4,
    # in 2 (window, type) groups; chunk2's 4 tied rows arrive last and
    # are dropped by the watermark.
    row = df.collect()[0]
    assert (row["n_windows"], row["n_surviving_events"]) == (2, 8), row


def test_two_phase_rank_matches_global_window(spark):
    """two_phase_rank must reproduce the naive global window's rank and
    running sum EXACTLY — including duplicate keys (bucket boundaries),
    negative keys (descending callers negate), a constant-key degenerate
    (single bucket), and per-group partitioning — under a partition count
    that forces rows to straddle buckets."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from biglake_iceberg_python_spark.functions.twophase import (
        two_phase_rank,
    )

    rnd = random.Random(7)
    rows = [
        (g, i, rnd.choice([-(10**12), -5, 0, 3, 7, 7, 10**11, k]))
        for g in ("a", "b")
        for i, k in enumerate(rnd.sample(range(-(10**12), 10**12), 200))
    ]
    df = spark.createDataFrame(rows, "g string, tie long, key long").withColumn(
        "m", (F.col("key") % 1000 + 1000).cast("decimal(30,6)")
    )
    got = (
        two_phase_rank(
            df,
            F.col("key"),
            "tie",
            cums={"m": F.col("m")},
            partition_cols=("g",),
            n_buckets=8,  # tiny bucket count → many straddles
        )
        .select("g", "tie", "rk", "cum_m")
        .collect()
    )
    w = Window.partitionBy("g").orderBy("key", "tie")
    want = (
        df.select(
            "g",
            "tie",
            F.row_number().over(w).alias("rk"),
            F.sum("m").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
                "cum_m"
            ),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # constant key: everything lands in bucket 0, still correct
    const = df.withColumn("key", F.lit(5))
    got_c = two_phase_rank(const, F.col("key"), "tie", partition_cols=("g",))
    want_c = const.select(
        "g", "tie", F.row_number().over(Window.partitionBy("g").orderBy("key", "tie")).alias("rk")
    )
    assert sorted(
        (r["g"], r["tie"], r["rk"]) for r in got_c.collect()
    ) == sorted((r["g"], r["tie"], r["rk"]) for r in want_c.collect())

def test_two_phase_rank_guards_and_null_measures(spark):
    """Round-8 ADVICE hardening: NULL ordering keys and int64 bucket-bound
    violations must raise loudly (previously: silent row loss / wraparound),
    and an all-NULL first-bucket measure must not NULL the whole group's
    running sum (typed-zero base, not `0 * NULL`)."""
    import pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from biglake_iceberg_python_spark.functions.twophase import (
        two_phase_rank,
    )

    # 1) NULL key raises instead of silently dropping the row
    df_null = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "tie long, key long"
    )
    with pytest.raises(Exception, match="NULL ordering key"):
        two_phase_rank(df_null, F.col("key"), "tie").collect()

    # 2) key span that wraps (max-min)*n_buckets past int64 raises
    df_wide = spark.createDataFrame(
        [(1, -(2**62)), (2, 2**62)], "tie long, key long"
    )
    with pytest.raises(Exception, match="overflows int64"):
        two_phase_rank(df_wide, F.col("key"), "tie").collect()

    # 3) leading all-NULL measures COVERING the entire first bucket (keys
    # 10..400, 4 buckets → bucket 0 is i <= 10; NULLs run to i = 12):
    # bit-identical to the naive window (NULL until the first non-null
    # measure, then partial sums resume) — `0 * NULL` would NULL them all
    rows = [(i, i * 10, None if i <= 12 else float(i)) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "tie long, key long, v double").withColumn(
        "m", F.col("v").cast("decimal(30,6)")
    )
    got = two_phase_rank(
        df, F.col("key"), "tie", cums={"m": F.col("m")}, n_buckets=4
    ).select("tie", "rk", "cum_m")
    w = Window.orderBy("key", "tie")
    want = df.select(
        "tie",
        F.row_number().over(w).alias("rk"),
        F.sum("m").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum_m"
        ),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_two_phase_rank_guard_allows_legal_wide_spans(spark):
    """The overflow guard must not false-positive: a key span just inside
    the documented (max-min)*n_buckets int64 bound ranks fine."""
    from pyspark.sql import functions as F

    from biglake_iceberg_python_spark.functions.twophase import (
        two_phase_rank,
    )

    span = (2**63 - 1) // 4096 - 1  # legal: span * 4096 < int64 max
    df = spark.createDataFrame(
        [(1, 0), (2, span // 2), (3, span)], "tie long, key long"
    )
    got = sorted(
        (r["tie"], r["rk"])
        for r in two_phase_rank(df, F.col("key"), "tie").collect()
    )
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_two_phase_rank_empty_input_returns_empty(spark):
    """An empty unpartitioned input yields one all-NULL global min/max row;
    the overflow guard must read that as 'no data' (empty result, as before
    the guard existed), not as a bound violation."""
    from pyspark.sql import functions as F

    from biglake_iceberg_python_spark.functions.twophase import (
        two_phase_rank,
    )

    df = spark.createDataFrame([], "tie long, key long, m decimal(20,2)")
    out = two_phase_rank(
        df, F.col("key"), "tie", cums={"c": F.col("m")}
    )
    assert out.count() == 0


def test_km_retention_survival_zero_terminal_row(spark, tmp_path):
    """S(t) = 0 (d = n: every at-risk user churns at the last time point)
    is a legitimate KM terminal state. The literal-table builders must
    skip the d = n pair (−ln 0 has no micro-nat) and BOTH engines must
    report that row's surv_nll_micro as NULL — not crash, not diverge."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biglake_iceberg_python_spark.plans.check import (
        compare,
        duckdb_connect,
    )
    from biglake_iceberg_python_spark.plans.registry import (
        load_all,
        resolve_oracle,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []

    def add(u, day):
        rows.append((len(rows) + 1, base + dt.timedelta(days=day), u))

    # user 1: lifetime 51, d1 = day 50 < dmax - 7 = day 53 -> UNCENSORED
    # and uniquely longest-lived: at t = 51, d_events = n_at_risk = 1.
    add(1, 0)
    add(1, 50)
    # user 2: lifetime 6, d1 = dmax -> censored (keeps dmax at 60)
    add(2, 55)
    add(2, 60)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    spec = load_all()["events_kaplan_meier_retention"]
    df = spec.fn(spark, str(tmp_path))
    got = {r["t_days"]: r["surv_nll_micro"] for r in df.collect()}
    assert got[51] is None  # S(51) = 0 -> -ln S unrepresentable
    assert got[6] == 0  # censored-only row: hazard 0
    con = duckdb_connect(str(tmp_path))
    r = compare(df, con, resolve_oracle(spec, str(tmp_path)))
    assert r["ok"], r


@pytest.mark.parametrize(
    "text",
    [
        None,
        "",
        "   ",
        "solo",
        "  a  b ",
        "tab\tseparated\nnew  line",
        _UNICODE_TEXTS[1],  # NFD combining marks
        _UNICODE_TEXTS[7],  # tab, no-break and thin spaces
    ],
)
def test_tokenizer_twins_agree(spark, text):
    """Spark's words() and its DuckDB twin oracle_words() split every text
    into the same token list: NULL and blank texts into none, and only the
    ASCII space separates."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exprs import oracle_words, words

    df = spark.createDataFrame([(text,)], "text string")
    spark_tokens = df.select(words().alias("w")).first()["w"]
    duck_tokens = duckdb.connect().execute(
        f"SELECT {oracle_words()} FROM (SELECT $1::VARCHAR AS text)", [text]
    ).fetchone()[0]
    assert spark_tokens == duck_tokens


@pytest.mark.parametrize(
    "value",
    [
        None, 0.0, -0.0, 0.005, 0.015, 0.125, -0.125, 2.675, 1.005, -1.005,
        123456.785, 9999.99,
    ],
)
def test_cents_twins_agree(spark, value):
    """cents() and oracle_cents() turn every money double, ties included,
    into the same integer cents, for both target types."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exprs import cents, oracle_cents

    df = spark.createDataFrame([(value,)], "x double")
    got = df.select(cents("x").alias("a"), cents("x", "decimal(38,0)").alias("b"))
    row = got.first()
    duck = duckdb.connect().execute(
        f"SELECT {oracle_cents('x')}, {oracle_cents('x', 'DECIMAL(38,0)')}"
        " FROM (SELECT $1::DOUBLE AS x)",
        [value],
    ).fetchone()
    assert (row["a"], row["b"]) == duck


@pytest.mark.parametrize(
    "values",
    [
        [0.1, 0.2],
        [1.5, -2.25, 0.75, -0.01],
        [None, 1.1, None, 2.2],
        [None, None],
        # the scale-6 integer of the sum passes 2^53
        [4503599627.37, 4503599627.38, 0.01, 12.34],
    ],
)
def test_dsum_twins_agree(spark, values):
    """dsum()/davg() and oracle_dsum()/oracle_davg() return the same
    double, bit for bit."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exprs import (
        davg,
        dsum,
        oracle_davg,
        oracle_dsum,
    )

    df = spark.createDataFrame([(v,) for v in values], "x double")
    row = df.agg(dsum("x", "s"), davg("x", "a")).first()
    duck = duckdb.connect().execute(
        f"SELECT {oracle_dsum('x')}, {oracle_davg('x')}"
        " FROM (SELECT unnest($1::DOUBLE[]) AS x)",
        [values],
    ).fetchone()
    assert (row["s"], row["a"]) == duck


@pytest.mark.parametrize(
    "ts,expected",
    [
        (datetime.datetime(1969, 12, 31, 23, 59, 59, 500000), -1),
        (datetime.datetime(1960, 3, 1, 12, 0, 0), -310392000),
        (datetime.datetime(1970, 1, 1), 0),
        (datetime.datetime(2024, 3, 10, 2, 30, 0), 1710037800),
        (datetime.datetime(2024, 10, 27, 1, 59, 59), 1729994399),
        (datetime.datetime(2038, 1, 19, 3, 14, 8, 1), 2147483648),
    ],
)
def test_epoch_seconds_twins_agree(spark, ts, expected):
    """spark_epoch_s() and oracle_epoch_s() give the same epoch second of
    an NTZ timestamp — before 1970, at DST wall-clock edges and past
    2^31 — whatever the session timezone."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exprs import (
        oracle_epoch_s,
        spark_epoch_s,
    )

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try:
        df = spark.createDataFrame([(ts,)], "ts timestamp_ntz")
        got = df.select(F.expr(spark_epoch_s()).alias("es")).first()["es"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    duck = duckdb.connect().execute(
        f"SELECT {oracle_epoch_s()} FROM (SELECT $1::TIMESTAMP AS ts)", [ts]
    ).fetchone()[0]
    assert got == duck == expected


@pytest.mark.parametrize(
    "nonzero",
    [
        pytest.param(
            True,
            marks=pytest.mark.xfail(
                strict=True,
                raises=duckdb.Error,
                reason="the oracle's norm² conjunct raises on a NULL component",
            ),
        ),
        False,
    ],
)
def test_embedding_validity_twins_agree(spark, tmp_path, nonzero):
    """valid_embedding() (plus the norm² > 0 filter of the cosine family)
    and oracle_valid_embeddings() keep the same rows of a corpus of
    degenerate vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from biglake_iceberg_python_spark.functions.exprs import (
        oracle_valid_embeddings,
        valid_embedding,
    )
    from biglake_iceberg_python_spark.operators.similarity import (
        _valid_embeddings,
    )
    from biglake_iceberg_python_spark.plans.check import duckdb_connect
    from biglake_iceberg_python_spark.sources.tables import load_table

    def vec(first):
        return [first] + [0.0625] * 63

    rows = [
        None,  # NULL vector
        [0.0625] * 63,  # wrong dim
        vec(None),  # NULL component
        vec(float("nan")),
        vec(float("inf")),
        vec(float("-inf")),
        vec(8.0),  # on the bound: valid
        vec(8.000001),  # past the bound
        [0.0] * 64,  # zero vector: valid, but no cosine
        vec(-0.5),  # ordinary
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(rows)), pa.int64()),
                "embedding": pa.array(rows, pa.list_(pa.float32())),
                "label": pa.array([0] * len(rows), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    if nonzero:
        kept = _valid_embeddings(spark, str(tmp_path))
    else:
        kept = load_table(spark, str(tmp_path), "embeddings").filter(
            valid_embedding()
        )
    got = sorted(r["vec_id"] for r in kept.select("vec_id").collect())
    duck = duckdb_connect(str(tmp_path)).execute(
        f"SELECT vec_id FROM {oracle_valid_embeddings(nonzero=nonzero)} ORDER BY 1"
    ).fetchall()
    assert got == [r[0] for r in duck] == ([6, 9] if nonzero else [6, 8, 9])
