"""Deterministic numeric aggregation helpers.

Distributed double summation is order-dependent: two runs (or two engines)
can differ in the last ulp, which breaks exact differential testing and makes
results non-reproducible across cluster layouts. The engine's convention for
money-like measures is:

    cast operand -> DECIMAL (exact) -> SUM (exact, order-independent)
    -> cast the *final* scalar back to DOUBLE (one deterministic rounding)

This is free at scale (Spark's decimal sum is codegen'd, and the cast
happens once per group, not per row) and makes every aggregate bit-stable
regardless of partitioning — the property the DuckDB oracle check relies on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Wide enough for TPC-H money at sf100k; scale 4 preserves the fixtures'
# 2-decimal prices and 2-decimal discounts exactly.
DEC = "DECIMAL(18,4)"


def dec(col: Column | str) -> Column:
    """Exact-decimal view of a double measure."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


# Every (column, scale) ever routed through units(), recorded at plan-build
# time.  tools/audit_plans.py machine-checks the exactness precondition for
# each entry on the live fixture (max |x*10^s - round(x*10^s)| <= margin) —
# a poisoned 3-dp price fails preflight with a named column instead of
# silently producing a wrong sum.
UNIT_CALLS: set[tuple[str, int]] = set()


def units(col: str, scale: int) -> Column:
    """Exact BIGINT view of a ≤``scale``-dp money/rate double, in 10^-scale
    units — the integer fast path of the decimal convention above.

    Exactness precondition: the double is the shortest representation of a
    value with at most ``scale`` fractional digits (true of the fixtures'
    money columns — max residual |x·10^s − round(x·10^s)| measured ≤ 1e-9).
    The precondition is MACHINE-CHECKED per recorded column by
    tools/audit_plans.py (see ``UNIT_CALLS``); ``col`` must be a plain
    column name so the audit can locate it in the fixtures.
    Then ``round(x·10^scale)`` lands on the same integer as
    ``CAST(x AS DECIMAL(p,scale))`` (both resolve the shortest-repr value;
    the double's error is orders of magnitude below the 0.5-unit rounding
    threshold), so unit arithmetic is value-identical to decimal arithmetic
    while replacing per-row BigDecimal multiplies (scale propagation + ANSI
    overflow checks) with single long multiplies inside whole-stage codegen
    — measured 2.8x faster on the q1 scan+aggregate task, a per-core win.

    int64 OVERFLOW ENVELOPE (per-group SUM capacity = 2^63 / max-per-row
    unit value; under ANSI mode exceeding it ABORTS the query, it does not
    silently wrap): scale-4 quantities (~5e5/row) sum safely to ~1.8e13
    rows/group; scale-4 money (~1e9/row) to ~9e9 rows/group; scale-6
    revenue products (~1e11/row) to only ~9e7 rows/group — i.e. a
    whole-table TPC-H group aborts near sf~150 for scale-6 and sf~6000 for
    scale-4 money.  Fact-table money sums must therefore use the hi/lo
    split (``hl_sums``/``hl_double`` below), which moves every capacity to
    >= ~9e12 rows/group (sf ~6e6, ~600 PB) while keeping fixture-scale
    results bit-identical.  EXACTNESS of the final double remains governed
    by the decimal convention's own 2^53 envelope either way."""
    if not isinstance(col, str):
        raise TypeError(
            "units() takes a column NAME so the exactness precondition is "
            "auditable (tools/audit_plans.py); got a Column expression"
        )
    UNIT_CALLS.add((col, scale))
    return F.round(F.col(col) * (10**scale)).cast("bigint")


# Divisor for the overflow-safe hi/lo sum decomposition.  Chosen near
# sqrt(max per-row unit value): both part-sums then carry ~9.2e12-row
# per-group capacity for scale-6 revenue units (~1e11/row max).
HL_DIV = 1_000_000


def hl_sums(expr_sql: str, prefix: str, *, non_negative: bool = False) -> list[Column]:
    """Overflow-safe integer-unit SUM: decompose each row's unit value as
    ``x = HL_DIV*hi + lo`` with ``lo ∈ [0, HL_DIV)`` and sum the parts
    separately.  By linearity the true sum is ``HL_DIV*SUM(hi) + SUM(lo)``
    with both part-sums int64-safe to ~9.2e12 rows/group for scale-6
    revenue units (sf ~6e6) — the c10-style split from q1 generalized.

    ``expr_sql`` is a SQL fragment (a named unit column or expression over
    one — name compound expressions in a select first) so the split runs
    entirely in integer ``DIV``/``%`` inside whole-stage codegen:
    ``non_negative=True`` (assert it only for provably >= 0 units, e.g.
    price x (1-d) products) emits plain ``DIV``/``%`` (two long ops/row);
    the signed form keeps ``lo >= 0`` via ``pmod`` so hi carries the sign
    and the identity holds for any sign mix (DIV truncates toward zero,
    but ``x - pmod(x, d)`` is divisible by d, so the truncation is exact).

    Returns the two aggregate columns ``{prefix}hi``, ``{prefix}lo``;
    finalize with ``hl_double`` (plain sums) or the rounding decompositions
    documented at the q1/q9 call sites (plans/relational.py)."""
    e = f"({expr_sql})"
    if non_negative:
        hi, lo = f"{e} DIV {HL_DIV}", f"{e} % {HL_DIV}"
    else:
        lo = f"pmod({e}, {HL_DIV})"
        hi = f"({e} - {lo}) DIV {HL_DIV}"
    return [
        F.expr(f"SUM({hi})").alias(f"{prefix}hi"),
        F.expr(f"SUM({lo})").alias(f"{prefix}lo"),
    ]


def hl_double(prefix: str, scale: int = 0) -> str:
    """SQL fragment reconstructing the true sum ``HL_DIV*hi + lo`` in
    DOUBLE arithmetic, divided back to value space by ``10^scale`` —
    exact while the true sum < 2^53 (the decimal convention's own
    exactness envelope), and NEVER aborts past it (the int64
    recombination would).  Embed in an F.expr finalizer.

    This is THE finalizer for plain (unrounded) hi/lo sums; the
    round-to-4dp form is :func:`hl_round_4dp`.  The only legitimate inline
    decompositions left are the ones these two cannot express — q1's
    three-way c10 split and q9's signed half-away rounding
    (plans/relational.py), each documented at its call site."""
    rec = f"({prefix}hi * {HL_DIV}.0D + {prefix}lo)"
    return rec if scale == 0 else f"({rec} / {10**scale}.0D)"


def hl_round_4dp(prefix: str) -> str:
    """SQL fragment finalizing a NON-NEGATIVE scale-6 hi/lo unit sum as a
    4-dp-rounded double: drop the sum's last two unit digits with
    round-half-up (``(lo + 50) DIV 100``; hi contributes ``hi * 10^4``
    whole scale-4 units since HL_DIV = 10^6), then one exact divide.
    Rounding in INTEGER space first keeps the double recombination's
    magnitude 100x smaller than hl_double's, extending the 2^53 exactness
    envelope correspondingly.  Half-up equals half-away only for
    non-negative sums — signed sums need q9's CASE decomposition."""
    return f"(({prefix}hi * 10000.0D + ({prefix}lo + 50) DIV 100) / 10000.0D)"


def dec_sum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM: exact decimal internally, double out."""
    return F.sum(dec(col)).cast("double").alias(alias)


def dec_sum_of(expr: Column, alias: str) -> Column:
    """Order-independent SUM of an exact-decimal *expression* (e.g. a
    revenue product at scale 8+), rounded to scale 4 before the double cast.

    The rounding matters for cross-engine determinism: converting a scale-8
    decimal whose scaled integer exceeds 2**53 to double double-rounds
    (int->double then /10^scale), and engines disagree in the last ulp.
    At scale 4 the scaled integer stays below 2**53 for any realistic money
    sum, so the decimal->double conversion is a single exact-int divide —
    bit-identical everywhere.  SQL twin: CAST(ROUND(SUM(expr), 4) AS DOUBLE).
    """
    return F.round(F.sum(expr), 4).cast("double").alias(alias)


def dec_avg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / count, single double division."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)
