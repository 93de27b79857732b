"""The 2^53 exactness bound on the integer sub-unit money path
(VERDICT r10 finding 2 / next-round item 3).

The fast path sums exact sub-unit longs and divides once; that division
round-trips bit-identically to the decimal path only while the group
total stays below 2^53. These tests pin:

- the boundary itself (below: bit-identical to the decimal path;
  above: the documented 1-ulp drift regime exists, which is WHY the
  guard exists),
- the debug guard (SPARK_GRAFT_MONEY_GUARD=1): a group total at or
  beyond 2^53 raises instead of drifting silently,
- the default path is untouched (guard off ⇒ same expression as
  before — no plan change for bench or production).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kamiyo_hive_spark.functions.money import (
    EXACT_DOUBLE_BOUND,
    dec,
    money_sum,
    money_sum_col,
)


# Each row stays inside DECIMAL(14,2) (ANSI would reject larger
# literals); the BOUND is crossed by the group SUM, which is exactly
# the regime the guard is about. 900 × 99999999999.99 ≈ 0.9998 × 2^53
# sub-units (under); 902 rows cross 2^53.
_BIG = 99999999999.99
_N_UNDER = 900
_N_OVER = 902
assert _N_UNDER * _BIG * 100 < EXACT_DOUBLE_BOUND < _N_OVER * _BIG * 100


def _sum_both_paths(spark, values: list[float]):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    row = df.agg(
        money_sum(dec("x"), scale=2).alias("fast"),
        money_sum(dec("x"), scale=None).alias("decimal"),
    ).collect()[0]
    return row["fast"], row["decimal"]


def test_below_bound_bit_identical(spark):
    # A group total just under 2^53 sub-units: the long sum is exact and
    # the single division matches the decimal→double cast bit for bit.
    fast, exact = _sum_both_paths(spark, [_BIG] * _N_UNDER)
    assert fast == exact


def test_money_sum_col_matches_decimal_on_plain_column(spark):
    vals = [1.01, 2.50, 99999999.99, 0.07]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = df.agg(
        money_sum_col("x").alias("fast"),
        money_sum(dec("x"), scale=None).alias("exact"),
    ).collect()[0]
    assert row["fast"] == row["exact"]


def test_guard_off_is_silent_past_bound(spark, monkeypatch):
    # Documents the silent regime the guard exists for: past 2^53 the
    # fast path still RETURNS (no error) — the value may drift by 1 ulp
    # vs the decimal path, which is exactly why production unbounded
    # accumulations use scale=None and canaries set the guard env.
    monkeypatch.delenv("SPARK_GRAFT_MONEY_GUARD", raising=False)
    fast, exact = _sum_both_paths(spark, [_BIG] * _N_OVER)
    assert fast == pytest.approx(exact, rel=1e-12)


def test_guard_raises_at_bound(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MONEY_GUARD", "1")
    df = spark.createDataFrame([(_BIG,)] * _N_OVER, "x double")
    with pytest.raises(Exception, match="2\\^53"):
        df.agg(money_sum(dec("x"), scale=2).alias("s")).collect()


def test_guard_passes_below_bound(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MONEY_GUARD", "1")
    fast, exact = _sum_both_paths(spark, [1.25, 2.75])
    assert fast == exact == 4.0


def test_guard_passes_null_total_of_empty_frame(spark, monkeypatch):
    # An empty frame sums to NULL on both paths; the guard must let the
    # NULL through rather than raise on it.
    monkeypatch.setenv("SPARK_GRAFT_MONEY_GUARD", "1")
    fast, exact = _sum_both_paths(spark, [])
    assert fast is None and exact is None


def test_guard_off_plan_unchanged(spark, monkeypatch):
    # The bench/production contract: with the guard off the emitted
    # expression is exactly the pre-guard one (no CASE WHEN wrapper).
    monkeypatch.delenv("SPARK_GRAFT_MONEY_GUARD", raising=False)
    df = spark.createDataFrame([(1.0,)], "x double")
    plan = df.agg(money_sum_col("x").alias("s"))._jdf.queryExecution().toString()
    assert "assert_true" not in plan
    monkeypatch.setenv("SPARK_GRAFT_MONEY_GUARD", "1")
    plan_on = df.agg(money_sum_col("x").alias("s"))._jdf.queryExecution().toString()
    assert "assert_true" in plan_on
