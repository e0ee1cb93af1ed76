"""Engine-portable integer micro-nat logarithms — exact by construction.

``round(1e6 * ln(n))`` evaluated as a DOUBLE is engine-dependent: JVM
``Math.log`` (fdlibm-derived), glibc, and DuckDB's libm disagree in the
last ulp, so whenever ``1e6 * ln(n)`` lands within ~1e-9 of a ``.5``
boundary the engines round apart. CORRECTNESS_r07's single red
(``ml_woe_binning``) was this exact hazard class — previously waived by a
measure-zero argument the driver empirically voted against.

The by-construction fix: the ln arguments in these queries come from a
BOUNDED, data-derived integer domain (a <=10-bin histogram, a
calendar-span day table), so the quantity is computed ONCE here, in
Python ``decimal`` arithmetic (``Decimal.ln`` is correctly rounded and
platform-independent), and callers inline the resulting INTEGER literals
into BOTH the Spark plan (a literal map lookup) and the DuckDB oracle (a
literal ``VALUES`` join). Neither engine ever evaluates a transcendental,
so there is no boundary left to disagree on.

Scale shape of the pattern: the corpus collapses to the bounded argument
table through ordinary distributed aggregation; that table is cached,
collected (O(bins) / O(days) rows — within the repo's documented
driver-collect budget), mapped through :func:`micro_nat`, and rejoined as
literals. One corpus scan, O(domain) driver state.
"""

from __future__ import annotations

from collections.abc import Iterable
from decimal import ROUND_HALF_UP, Decimal, localcontext

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 40 significant digits: a correctly-rounded ln at this precision sits
# within 1e-33 of the true value, and 1e6*ln(integer) is irrational (hence
# never ON a boundary), so the HALF_UP quantize below is unambiguous.
_PREC = 40


def micro_nat(n: int) -> int:
    """``round(1e6 * ln(n))`` for an integer ``n >= 1``, deterministic
    across platforms and engines (pure decimal arithmetic, no libm)."""
    if n < 1:
        raise ValueError(f"micro_nat requires n >= 1, got {n}")
    if n == 1:
        return 0
    with localcontext() as ctx:
        ctx.prec = _PREC
        v = Decimal(n).ln() * Decimal(1_000_000)
    return int(v.quantize(Decimal(1), rounding=ROUND_HALF_UP))


def micro_nat_ratio(num: int, den: int) -> int:
    """``round(1e6 * ln(num/den))`` for positive integers — the rational-
    argument variant (Kaplan–Meier hazards quantize −ln(1 − d/n) =
    ln(n / (n−d))). Ties round away from zero (decimal ROUND_HALF_UP),
    matching SQL round() for either sign."""
    if num < 1 or den < 1:
        raise ValueError(f"micro_nat_ratio requires positive ints, got {num}/{den}")
    if num == den:
        return 0
    with localcontext() as ctx:
        ctx.prec = _PREC
        v = (Decimal(num).ln() - Decimal(den).ln()) * Decimal(1_000_000)
    return int(v.quantize(Decimal(1), rounding=ROUND_HALF_UP))


def micro_nat_map(args: Iterable[int]) -> Column:
    """A Spark literal ``map<bigint, bigint>`` from each argument to its
    micro-nat value — ``element_at``/bracket lookups replace ``F.log`` in
    the plan. Lookups of an argument outside ``args`` yield NULL, which
    propagates into the output and fails the correctness gate loudly."""
    pairs: list[Column] = []
    for a in sorted(set(int(a) for a in args)):
        pairs.append(F.lit(a).cast("long"))
        pairs.append(F.lit(micro_nat(a)).cast("long"))
    return F.create_map(*pairs)


def micro_nat_values_sql(args: Iterable[int]) -> str:
    """The DuckDB twin of :func:`micro_nat_map`: the body of a
    ``ln_tab(n, micro)`` VALUES list holding the SAME integer literals."""
    rows = [
        f"(CAST({a} AS BIGINT), CAST({micro_nat(a)} AS BIGINT))"
        for a in sorted(set(int(a) for a in args))
    ]
    return ", ".join(rows)


# Above this many distinct keys, a literal create_map would inline 2×N
# literal expressions into one projection — past Catalyst codegen limits
# long before the broadcast-join alternative feels any strain.
# :func:`with_micro_nat_shift` switches to a broadcast-joined literal
# DataFrame at this size.
MAP_LITERAL_MAX = 10_000


def micro_nat_shift_pairs(
    keys: Iterable[int], shift: int = 0
) -> list[tuple[int, int]]:
    """Sorted ``(k, micro_nat(k + shift))`` pairs — the literal table for
    quantized ``ln(k + shift)`` keyed on the RAW data value ``k`` (e.g.
    add-one smoothing keys on the count, shift=1). Empty domains get a
    ``(-1, 0)`` placeholder: count keys are never negative, so the
    placeholder can't match, and it keeps downstream map/DataFrame
    literals TYPED (a bare ``map()`` is ``map<void,void>`` and fails the
    lookup's type check)."""
    pairs = sorted(
        (int(k), micro_nat(int(k) + shift)) for k in set(keys)
    )
    return pairs or [(-1, 0)]


def micro_nat_shift_lookup(pairs: list[tuple[int, int]], key: Column) -> Column:
    """Literal-map lookup ``map[key]`` over :func:`micro_nat_shift_pairs`
    output — the small-domain fast path of :func:`with_micro_nat_shift`.
    A key outside the domain yields NULL, which propagates into the hashed
    output and fails the correctness gate loudly."""
    # Explicit BIGINT literals: bare int literals would type the map
    # map<int,int>, and a LONG lookup key would then be DOWN-cast to int —
    # an overflow hazard once counts exceed 2^31 at corpus scale. Built as
    # ONE SQL string instead of 2·|pairs| F.lit().cast() Column objects:
    # the literal map is the same Catalyst CreateMap-of-Literals, but one
    # py4j round trip instead of hundreds — driver-side plan construction
    # was a measurable slice of every consumer's wall time (round 14).
    m = F.expr(
        "map("
        + ", ".join(f"{int(k)}L, {int(v)}L" for k, v in pairs)
        + ")"
    )
    return m[key]


def with_micro_nat_shift(
    df: DataFrame, pairs: list[tuple[int, int]], key: str, out: str
) -> DataFrame:
    """``df`` plus a BIGINT column ``out`` looked up from ``df[key]`` in
    :func:`micro_nat_shift_pairs` output. Up to :data:`MAP_LITERAL_MAX`
    pairs it is a literal-map projection (no join, no job); past that the
    pairs become a broadcast-joined literal table. Every key must be in
    the domain: a miss is NULL on the map path but drops the row on the
    join path."""
    if len(pairs) <= MAP_LITERAL_MAX:
        return df.withColumn(out, micro_nat_shift_lookup(pairs, F.col(key)))
    tab = df.sparkSession.createDataFrame(pairs, f"{key} long, {out} long")
    return df.join(F.broadcast(tab), key)


def micro_nat_shift_values_sql(pairs: list[tuple[int, int]]) -> str:
    """The DuckDB twin of :func:`micro_nat_shift_lookup`: the body of a
    ``tab(cv, micro)`` VALUES list holding the SAME integer literals."""
    return ", ".join(
        f"(CAST({k} AS BIGINT), CAST({v} AS BIGINT))" for k, v in pairs
    )
