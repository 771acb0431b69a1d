"""Radix selection: exact k-th smallest without a sort (operators/selection).

Pins the order-preserving sign-flip byte mapping across the full int64
domain (LONG_MIN/LONG_MAX, negatives, duplicates), the 1-indexed rank
contract at both ends, out-of-range refusal, and a seeded random
cross-check against Python's sorted() — plus the catalog query's
lower-nearest-rank definition against a brute-force quantile.
"""

from __future__ import annotations

import math
import random

import pytest

from lms_etl_pipeline_spark.operators.selection import (
    kth_smallest,
    quantiles_by_radix,
)

I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v BIGINT")


class TestKthSmallest:
    @pytest.mark.slow  # >14 s: gated from the default run
    def test_full_domain_extremes_and_negatives(self, spark):
        vals = [I64_MIN, -1, 0, 1, I64_MAX, -256, 255, -(1 << 40), 1 << 40]
        df = _df(spark, vals)
        want = sorted(vals)
        for k in range(1, len(vals) + 1):
            assert kth_smallest(df, "v", k) == want[k - 1], k

    def test_duplicates_and_ends(self, spark):
        vals = [5, 5, 5, -7, -7, 42]
        df = _df(spark, vals)
        assert kth_smallest(df, "v", 1) == -7
        assert kth_smallest(df, "v", 2) == -7
        assert kth_smallest(df, "v", 3) == 5
        assert kth_smallest(df, "v", len(vals)) == 42

    def test_nulls_excluded(self, spark):
        df = spark.createDataFrame([(1,), (None,), (3,)], "v BIGINT")
        assert kth_smallest(df, "v", 2) == 3

    def test_out_of_range_refused(self, spark):
        df = _df(spark, [1, 2])
        with pytest.raises(ValueError):
            kth_smallest(df, "v", 0)
        with pytest.raises(ValueError):
            kth_smallest(df, "v", 3)
        with pytest.raises(ValueError):
            kth_smallest(_df(spark, []), "v", 1)

    @pytest.mark.slow  # >14 s: gated from the default run
    def test_random_cross_check(self, spark):
        rng = random.Random(11)
        vals = [
            rng.choice(
                [
                    rng.randrange(-100, 100),
                    rng.randrange(I64_MIN, I64_MAX),
                    rng.choice([0, -1, 1, 255, 256, -255, -256]),
                ]
            )
            for _ in range(300)
        ]
        df = _df(spark, vals)
        want = sorted(vals)
        for k in (1, 7, 150, 299, 300):
            assert kth_smallest(df, "v", k) == want[k - 1], k


@pytest.mark.slow  # >14 s: gated from the default run
def test_quantile_rank_definition_matches_brute_force(spark):
    """The catalog query's k = 1 + floor(q*(n-1)) (lower-nearest rank) must
    select exactly sorted[k-1] for every registered quantile."""
    from lms_etl_pipeline_spark.plans.order_stats import _QUANTILES

    vals = sorted(random.Random(3).randrange(0, 10_000) for _ in range(101))
    df = _df(spark, vals)
    n = len(vals)
    for q in _QUANTILES:
        k = 1 + math.floor(q * (n - 1))
        assert kth_smallest(df, "v", k) == vals[k - 1], q


class TestQuantilesByRadix:
    """Batched 16-bit multi-quantile selection == one-k-at-a-time truth."""

    def test_matches_sorted_truth_full_domain(self, spark):
        vals = [I64_MIN, -1, 0, 1, I64_MAX, -256, 255, -(1 << 40), 1 << 40,
                7, 7, 7, -7]
        df = _df(spark, vals)
        want = sorted(vals)
        qs = (0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
        got = quantiles_by_radix(df, "v", qs)
        assert [q for q, _ in got] == list(qs)
        for q, v in got:
            k = 1 + math.floor(q * (len(vals) - 1))
            assert v == want[k - 1], q

    @pytest.mark.slow  # >14 s: gated from the default run
    @pytest.mark.parametrize("budget", [65536, 0])
    def test_seeded_random_cross_check_vs_kth_smallest(self, spark, budget):
        """budget=0 forces every counting pass (the 100 TB path); the
        default short-circuits to the direct collect after pass 1."""
        rng = random.Random(31)
        vals = [rng.randint(I64_MIN, I64_MAX) for _ in range(400)] + [
            rng.randint(-50, 50) for _ in range(200)
        ]
        df = _df(spark, vals)
        qs = (0.25, 0.5, 0.9, 0.99)
        got = dict(quantiles_by_radix(df, "v", qs, direct_budget=budget))
        for q in qs:
            k = 1 + math.floor(q * (len(vals) - 1))
            assert got[q] == kth_smallest(df, "v", k), q

    def test_mid_loop_short_circuit_budget(self, spark):
        """A budget between bucket sizes flips to direct resolve after a
        LATER pass (exercises the shift bookkeeping mid-loop)."""
        rng = random.Random(32)
        vals = [rng.randint(0, 1 << 20) for _ in range(500)]
        df = _df(spark, vals)
        want = sorted(vals)
        for budget in (1, 50, 499):
            got = dict(quantiles_by_radix(df, "v", (0.5, 0.99), direct_budget=budget))
            for q, v in got.items():
                assert v == want[math.floor(q * 499)], (budget, q)

    def test_full_domain_forced_passes(self, spark):
        """budget=0 over sign-boundary extremes: the counting passes must
        place LONG_MIN/LONG_MAX correctly with no direct collect."""
        vals = [I64_MIN, I64_MIN + 1, -1, 0, 1, I64_MAX - 1, I64_MAX]
        df = _df(spark, vals)
        got = dict(quantiles_by_radix(df, "v", (0.0, 0.5, 1.0), direct_budget=0))
        assert got == {0.0: I64_MIN, 0.5: 0, 1.0: I64_MAX}

    def test_duplicate_prefixes_and_nulls(self, spark):
        # all values share every 16-bit prefix until the last digit, and
        # several quantiles collapse onto ONE candidate prefix per pass
        vals = [3, 1, 2, 2, 2, 5, 4]
        df = spark.createDataFrame(
            [(v,) for v in vals] + [(None,)], "v BIGINT"
        )
        got = dict(quantiles_by_radix(df, "v", (0.0, 0.5, 0.5, 1.0)))
        assert got == {0.0: 1, 0.5: 2, 1.0: 5}

    def test_empty_input_yields_empty(self, spark):
        assert quantiles_by_radix(_df(spark, []), "v", (0.5,)) == []
