"""Spark/DuckDB twins for every value rule the two engines must share.

The correctness gate value-hashes Spark output against a DuckDB oracle, so
each rule that decides a value is written once per engine, here, and every
operator and oracle calls it. The pairs (Spark side / DuckDB side):

* ``dec`` / ``oracle_dec`` — the exact scale-6 decimal a double is summed
  in: money doubles carry <= 2 fractional digits and derived terms <= 6,
  so the cast recovers the exact value in both engines.
* ``dsum`` / ``oracle_dsum`` (and ``davg`` / ``oracle_davg``) — the
  order-independent sum of a double column: exact decimal sum, back to
  double. Spark's partial aggregation order varies with partitioning;
  the decimal sum is bit-identical under any partitioning, in both engines.
* ``cents`` / ``oracle_cents`` — money to integer cents: round at 2
  decimals, times 100, as an integer type.
* ``valid_embedding`` / ``oracle_valid_embeddings`` — which embedding rows
  a vector operator may score: exact dimension, every component non-NULL,
  finite and |x| <= 8 (the oracle side optionally also norm² > 0).
* ``spark_epoch_s`` / ``oracle_epoch_s`` — epoch seconds of a
  second-truncated NTZ timestamp: the session-timezone-independent integer
  both engines agree on.
* ``words`` / ``oracle_words`` — the whitespace tokenizer.

The events cleansing twin is :func:`oracle_events`; its Spark side is
``operators.eventflow._timed_events``.

Decimal sums also make results reproducible across cluster sizes: they cost
a few cycles per row inside whole-stage codegen, and re-running a
1000-executor job yields the same bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Input doubles in the testdata carry <= 2 fractional digits (money), and
# derived terms multiply at most three 2-decimal factors, so their true
# values have <= 6 decimal digits. Casting the double to scale 6 recovers the
# exact decimal value in both engines and never lands on a rounding tie
# (scale 4 ties on 5-decimal products, where Spark's HALF_UP and DuckDB's
# half-even disagree). decimal(30,6) sums never overflow at 100 TB rows.
_DEC = "decimal(30,6)"


def _col(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec(col: str | Column) -> Column:
    """The exact scale-6 decimal of a double column (see ``_DEC``)."""
    return _col(col).cast(_DEC)


def oracle_dec(expr: str) -> str:
    """The SQL twin of :func:`dec`; the text parses in both engines."""
    return f"CAST({expr} AS DECIMAL(30,6))"


def dsum(col: str | Column, alias: str | None = None) -> Column:
    """Exact, order-independent sum of a double column, returned as double.

    DuckDB oracle twin: :func:`oracle_dsum`.
    """
    out = F.sum(dec(col)).cast("double")
    return out.alias(alias) if alias else out


def oracle_dsum(expr: str) -> str:
    """The DuckDB SQL twin of :func:`dsum` for an arbitrary SQL expression.

    The exact decimal sum converts to double THROUGH A STRING (the one
    spelling BOTH engines parse — some call sites interpolate this
    helper into shared Spark SQL text): DuckDB's
    native wide-decimal→double cast double-rounds (double(int128) /
    double(10^scale) — probed 26% mis-rounded once the internal integer
    exceeds 2^53, which a money sum reaches near sf0.1), and the behavior
    is engine-build-dependent. The strtod parse is correctly rounded on
    every build — bit-identical to Spark's BigDecimal.doubleValue path."""
    return f"CAST(CAST(SUM({oracle_dec(expr)}) AS STRING) AS DOUBLE)"


def davg(col: str | Column, alias: str | None = None) -> Column:
    """Order-independent average: exact decimal sum / count, as double."""
    c = _col(col)
    out = F.sum(dec(c)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def oracle_davg(expr: str) -> str:
    """STRING-routed for the same reason as :func:`oracle_dsum`."""
    return f"{oracle_dsum(expr)} / COUNT({expr})"


def cents(col: str | Column, to: str = "long") -> Column:
    """Money to integer cents: ``round(CAST(x AS DECIMAL(18,2)) * 100)``.

    The domain is cleansed events (:func:`oracle_events`: finite,
    |value| < 1e4) and money columns. Outside it the twins part ways:
    DuckDB raises on NaN, ±Inf and |x| >= 1e14 (its DECIMAL(18,2)
    product overflows), while Spark returns NULL for NaN and ±Inf and a
    value up to |x| < 1e16. ``to`` is ``"long"`` for int64 sums and
    ``"decimal(38,0)"`` for the moment sums whose powers would overflow
    int64. DuckDB twin: :func:`oracle_cents`."""
    return F.round(_col(col).cast("decimal(18,2)") * 100).cast(to)


def oracle_cents(expr: str, to: str = "BIGINT") -> str:
    """The SQL twin of :func:`cents`; the text parses in both engines."""
    return f"CAST(round(CAST({expr} AS DECIMAL(18,2)) * 100) AS {to})"


# Engine-wide embedding contract: a component is valid when it is non-NULL,
# finite and |x| <= 8. A FINITE huge component (1e19, 1e200) passes every
# isfinite test and then overflows the vector family's integer/DECIMAL
# quantization grids, where DuckDB raises and Spark wraps or NULLs. 8 is an
# order of magnitude above any normalized embedding's component range (a
# unit vector's max |component| is 1) and keeps every downstream
# quantization inside int64.
_EMB_BOUND = 8.0
# Components per embedding: the corpus' encoder width.
EMB_DIM = 64


def valid_embedding() -> Column:
    """True for an ``embedding`` of exactly :data:`EMB_DIM` valid components.

    ``size()`` of NULL is -1 with ANSI off and NULL with ANSI on, both
    ≠ :data:`EMB_DIM`, so NULL vectors drop out in every session. The
    norm² > 0 half of :func:`oracle_valid_embeddings` is left to the
    caller, which may reuse the fold (``similarity._valid_embeddings``)."""
    return (F.size("embedding") == EMB_DIM) & F.forall(
        F.transform("embedding", lambda x: x.cast("double")),
        lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) <= F.lit(_EMB_BOUND)),
    )


def oracle_valid_embeddings(nonzero: bool = True) -> str:
    """The DuckDB twin of :func:`valid_embedding`, as a subquery over the
    ``embeddings`` table aliased ``embeddings``. ``nonzero`` also drops
    zero-norm vectors, for which cosine is undefined. DuckDB evaluates
    that conjunct on every row, and ``list_dot_product`` raises on a NULL
    component, so with ``nonzero`` a NULL component raises where Spark
    drops the row."""
    norm = (
        " AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0"
        if nonzero
        else ""
    )
    return (
        f"(SELECT * FROM embeddings WHERE len(embedding) = {EMB_DIM} AND "
        "len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x::DOUBLE)"
        f" OR abs(x::DOUBLE) > {_EMB_BOUND})) = 0{norm}) embeddings"
    )


def spark_epoch_s() -> str:
    """Epoch seconds of the NTZ timestamp ``ts``, truncated to the second,
    as Spark SQL text. ``timestampdiff`` truncates elapsed time while
    DuckDB's ``date_diff`` counts boundary crossings; truncating the operand
    first makes the two agree, pre-1970 included. Twin:
    :func:`oracle_epoch_s`."""
    return (
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " date_trunc('second', ts))"
    )


def oracle_epoch_s() -> str:
    """The DuckDB twin of :func:`spark_epoch_s`, as BIGINT."""
    return (
        "CAST(date_diff('second', TIMESTAMP '1970-01-01',"
        " date_trunc('second', ts)) AS BIGINT)"
    )


# Events cleansing, the same on both engines: a row with a NULL ts is
# dropped, and a value is kept only if it is finite and below this cap in
# magnitude (else NULL). The cap is the exact-moment family's int64 budget
# (a kept value's cents² is <= 1e12) and sits an order of magnitude above
# the genuine domain ceiling (~560). Spark side: eventflow._timed_events.
_EVENT_VALUE_CAP_SQL = "1.0e4"
EVENT_VALUE_CAP = float(_EVENT_VALUE_CAP_SQL)


def oracle_events(src: str = "events") -> str:
    """The DuckDB twin of the events cleansing, as a subquery over ``src``."""
    return (
        "(SELECT * REPLACE (CASE WHEN isfinite(value) AND abs(value) < "
        f"{_EVENT_VALUE_CAP_SQL} THEN value END AS value) FROM {src} WHERE ts IS NOT NULL)"
    )


def ts_s(col: str | Column, alias: str | None = None) -> Column:
    """Format a timestamp to second precision as a string.

    The events table carries nanosecond timestamps; Spark truncates to
    microseconds while DuckDB keeps nanoseconds, so raw timestamps can never
    hash-match across engines. Formatting to seconds is the portable
    representation. DuckDB twin: ``strftime(ts, '%Y-%m-%d %H:%M:%S')``.
    """
    out = F.date_format(_col(col), "yyyy-MM-dd HH:mm:ss")
    return out.alias(alias) if alias else out


def words(col: str | Column = "text") -> Column:
    """THE whitespace tokenizer: every text-reading operator calls it, and
    its DuckDB twin :func:`oracle_words` is the one the oracles call, so
    a tokenizer-semantics fix lands in one place per engine.

    COALESCE first: a NULL-text doc must tokenize to an EMPTY list on
    both engines. Unguarded, Spark's ``size(split(NULL))`` is
    session-dependent (-1 with ANSI off, NULL with ANSI on) while
    DuckDB's ``len(NULL)`` is NULL — token totals would diverge on any
    corpus with NULL documents."""
    return F.filter(
        F.split(F.coalesce(_col(col), F.lit("")), " "), lambda x: x != ""
    )


def oracle_words(col: str = "text") -> str:
    """The DuckDB SQL twin of :func:`words` for the column ``col``."""
    return f"list_filter(string_split(COALESCE({col}, ''), ' '), x -> x <> '')"


def adjacent_pairs(ws: Column, combine) -> Column:
    """Adjacent word pairs (bigram instances) via ``zip_with`` over two
    shifted slices — ``combine(a, b)`` builds each pair element.

    The tail-slice length clamps at 0: ``F.slice`` RAISES on negative
    lengths, so a 0- or 1-token document must yield an empty array rather
    than crash the scan (the DuckDB twin ``generate_series(1, len-1)`` is
    naturally empty there)."""
    n = F.greatest(F.size(ws) - 1, F.lit(0))
    return F.zip_with(F.slice(ws, 1, n), F.slice(ws, 2, n), combine)
