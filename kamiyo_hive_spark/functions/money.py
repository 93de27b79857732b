"""Exact-decimal helpers for monetary / fixed-point math.

The reference does all token math in integer basis points and
fixed-decimal units (kamiyo-hive `lib/governance.ts:316`,
`packages/hive-sdk/src/swarmteams/burn.ts:65-72`, 6-decimal token units
`swarm-types.ts:409`). We mirror that discipline on Spark: any column
whose values are exact decimals (prices, balances, rates) is cast to
``DecimalType`` *before* aggregation, so sums are exact and therefore
independent of partitioning and execution order — a prerequisite both
for DuckDB-oracle hash parity and for reproducible results on a
1000-executor cluster where partial-aggregate order is nondeterministic.

Final outputs are cast back to ``double``: an exact decimal converts to
the same IEEE-754 value everywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

# Precisions are deliberately small (money: 12 integer digits, rates:
# 2 fraction digits) so chained products stay within DECIMAL(38) in
# both Spark and DuckDB without precision-loss rounding.
MONEY = "decimal(14,2)"
RATE = "decimal(4,2)"

# Exactness bound for the integer sub-unit fast path (VERDICT r10
# finding 2): the final `sum(long) / 10^s` division is bit-identical to
# `CAST(decimal_sum AS DOUBLE)` only while |sum| < 2^53 — above that the
# long→double conversion rounds BEFORE the division, so the result can
# drift by one ulp with no error raised. The bench SFs have ~80x margin;
# at the 100 TB design point a deployment either enables this guard
# (debug runs / canaries) or routes unbounded accumulations through the
# decimal path (`money_sum(expr, scale=None)`), which has no such bound.
EXACT_DOUBLE_BOUND = 2**53


def _guard_enabled() -> bool:
    """Read at call time so tests and canary deployments can flip the
    guard without re-importing query modules."""
    return os.environ.get("SPARK_GRAFT_MONEY_GUARD", "0") != "0"


def _guarded_subunit_sum(total: Column) -> Column:
    """`total` = a summed long in integer sub-units. With the guard off
    (default: bench/production hot path, zero plan change) returns it
    unchanged; with SPARK_GRAFT_MONEY_GUARD=1 the aggregate raises if a
    group total reaches 2^53, where the double division would stop
    round-tripping exactly (see EXACT_DOUBLE_BOUND)."""
    if not _guard_enabled():
        return total
    # A NULL total (empty frame, all-NULL group) passes through as NULL,
    # as the unguarded sum does.
    ok = total.isNull() | (F.abs(total) < F.lit(EXACT_DOUBLE_BOUND))
    err = F.assert_true(
        ok,
        F.concat(
            F.lit("integer sub-unit sum reached 2^53; the double result "
                  "may drift by 1 ulp vs the decimal path — use "
                  "money_sum(expr, scale=None) for this accumulation "
                  "(got "),
            total.cast("string"),
            F.lit(")"),
        ),
    )
    return F.when(err.isNull(), total)


def dec(col: str | Column, typ: str = MONEY) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def one_minus(col: str | Column) -> Column:
    """(1 - rate) as an exact decimal."""
    return F.lit(1).cast(RATE) - dec(col, RATE)


def one_plus(col: str | Column) -> Column:
    """(1 + rate) as an exact decimal."""
    return F.lit(1).cast(RATE) + dec(col, RATE)


def money_sum(expr: Column, scale: int | None = None) -> Column:
    """Exact sum of a decimal expression, exposed as double.

    With ``scale=s`` (the expression's decimal scale, stated by the
    caller), the sum runs in integer sub-units on Spark's long-backed
    codegen path instead of the decimal accumulator: ``sum(decimal(p,2))``
    widens its buffer to ``decimal(p+10,2)``, and any precision above 18
    leaves the compact-long representation — measured 3-4x slower per
    aggregate at sf0.1 (optimization guide §2.3 "narrower types").
    ``expr * 10^s`` is an exact integral decimal (the values are exact
    scale-s decimals), the long cast is exact, long addition is
    order-independent, and ``S/10^s`` in IEEE double is the same
    correctly-rounded value as ``CAST(decimal_sum AS DOUBLE)`` — so the
    result is bit-identical to the decimal path (oracle-verified per
    query). Capacity bound, documented: a per-group total beyond
    ~9.2e18 sub-units (about $9e16 at scale 2) would overflow long —
    far above the design point's group totals; the decimal path remains
    available (scale=None) for unbounded accumulations.
    """
    if scale is None:
        return F.sum(expr).cast("double")
    f = 10**scale
    return (_guarded_subunit_sum(F.sum((expr * f).cast("long"))) / float(f)).cast(
        "double"
    )


def cents(col: str | Column, scale: int = 2) -> Column:
    """Exact integer sub-units (cents at scale 2, basis points at 4) of
    an exact-decimal double column — the reference's integer-basis-point
    discipline applied at the scan: one double multiply + round + cast
    in codegen, no per-row Decimal allocation. Exactness argument: the
    column contract (TESTDATA.md) is exact scale-``scale`` decimals, so
    ``x * 10^s`` lands within one ulp of an integer and never near a
    rounding boundary; ``round`` recovers the exact sub-unit count —
    identical to ``CAST(x AS DECIMAL(14,s)) * 10^s``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale)).cast("long")


def rev_units(price: str | Column = "l_extendedprice",
              disc: str | Column = "l_discount") -> Column:
    """Scale-4 integer sub-units of the revenue expression
    ``price * (1 - disc)``: ``cents(price) * (100 - cents(disc))`` —
    pure long arithmetic in codegen, replacing the decimal(14,2) ×
    decimal(4,2) product whose interpreted decimal multiply+accumulate
    dominated the revenue aggregations. Exactness: both factors are
    exact integers (see :func:`cents`), so the product is the exact
    scale-4 integral value of the decimal product. Capacity bound
    (documented, same discipline as :func:`money_sum`): per-group sums
    must stay below 2^53 for the final double division to round
    identically to the decimal→double cast — at the bench scale
    factors the largest such group sums are ~1e14 (80× margin); the
    decimal path (`dec(price) * one_minus(disc)`) remains for
    unbounded accumulations."""
    return cents(price) * (F.lit(100).cast("long") - cents(disc))


def rev_sum(price: str | Column = "l_extendedprice",
            disc: str | Column = "l_discount") -> Column:
    """Exact SUM(price*(1-disc)) as double via :func:`rev_units`."""
    return (_guarded_subunit_sum(F.sum(rev_units(price, disc))) / F.lit(1.0e4)).cast(
        "double"
    )


def money_sum_col(col: str | Column, scale: int = 2) -> Column:
    """Fastest exact sum for a PLAIN money/rate column: integer
    sub-unit sum straight from the exact-decimal double (see
    :func:`cents`), exposed as the same double ``money_sum`` yields."""
    f = 10**scale
    return (_guarded_subunit_sum(F.sum(cents(col, scale))) / float(f)).cast("double")
