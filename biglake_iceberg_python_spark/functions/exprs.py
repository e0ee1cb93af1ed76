"""Deterministic expression helpers shared across operators.

The correctness gate value-hashes Spark output against a DuckDB oracle.
Floating-point SUM/AVG are order-dependent, and Spark's partial aggregation
order varies with partitioning — so every double aggregation in this engine
runs through an exact decimal sum and is cast back to double at the end.
The result is bit-identical under any partitioning, in Spark AND in DuckDB
(both use exact decimal arithmetic), so hashes match with no tolerance.

This is also the right call at 100 TB: decimal sums cost a few extra cycles
per row inside whole-stage codegen but make results reproducible across
cluster sizes — re-running a 1000-executor job yields the same bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Input doubles in the testdata carry <= 2 fractional digits (money), and
# derived terms multiply at most three 2-decimal factors, so their true
# values have <= 6 decimal digits. Casting the double to scale 6 recovers the
# exact decimal value in both engines and never lands on a rounding tie
# (scale 4 DID tie on 5-decimal products — Spark HALF_UP vs DuckDB
# half-even disagreed). decimal(30,6) sums never overflow at 100 TB rows.
_DEC = "decimal(30,6)"


def dsum(col: str | Column, alias: str | None = None) -> Column:
    """Exact, order-independent sum of a double column, returned as double.

    DuckDB oracle twin: ``CAST(CAST(SUM(CAST(x AS DECIMAL(30,6))) AS STRING) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double")
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
    every build — bit-identical to Spark's BigDecimal.doubleValue path
    (round-11 magnitude hazard class)."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS STRING) AS DOUBLE)"


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


def davg(col: str | Column, alias: str | None = None) -> Column:
    """Order-independent average: exact decimal sum / count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def oracle_davg(expr: str) -> str:
    """STRING-routed for the same reason as :func:`oracle_dsum`."""
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS STRING) AS DOUBLE)"
        f" / COUNT({expr})"
    )


def ts_s(col: str | Column, alias: str | None = None) -> Column:
    """Format a timestamp to second precision as a string.

    The events table carries nanosecond timestamps; Spark truncates to
    microseconds while DuckDB keeps nanoseconds, so raw timestamps can never
    hash-match across engines. Formatting to seconds is the portable
    representation. DuckDB twin: ``strftime(ts, '%Y-%m-%d %H:%M:%S')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    return out.alias(alias) if alias else out


def words(col: str | Column = "text") -> Column:
    """THE whitespace tokenizer: every text-reading operator calls it, and
    its DuckDB twin :func:`oracle_words` is the one the oracles call, so
    a tokenizer-semantics fix lands in one place per engine.

    COALESCE first (round-10 degenerate parity sweep): a NULL-text doc
    must tokenize to an EMPTY list on both engines. Unguarded, Spark's
    ``size(split(NULL))`` is session-dependent (-1 with ANSI off, NULL
    with ANSI on) while DuckDB's ``len(NULL)`` is NULL — token totals
    silently diverged on any corpus with NULL documents."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.coalesce(c, F.lit("")), " "), lambda x: x != ""
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
    naturally empty there — round-9 fix, the unguarded form failed on any
    corpus containing an empty document)."""
    n = F.greatest(F.size(ws) - 1, F.lit(0))
    return F.zip_with(F.slice(ws, 1, n), F.slice(ws, 2, n), combine)
