"""The units() exactness precondition is machine-checked, not asserted.

The integer-unit fast path
(functions.numeric.units) is exact only while every routed column holds
<=scale-dp values.  tools/audit_plans.py now verifies that on the live
fixture per recorded (column, scale); these tests prove the gate passes on
clean data and FAILS WITH A NAMED COLUMN on a deliberately poisoned one.
"""

from __future__ import annotations

import os

import pytest

from tools.audit_plans import UNITS_MARGIN, unit_precondition_failures

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def registry():
    """Populate the units() registry the way plan-building does — isolated:
    other tests route synthetic column names through units(), and the audit
    rightly fails columns it cannot locate, so snapshot and restore the
    process-global set around these tests."""
    from lms_etl_pipeline_spark.functions.numeric import UNIT_CALLS, units

    saved = set(UNIT_CALLS)
    UNIT_CALLS.clear()
    # l_extendedprice at BOTH scales, mirroring the live catalog (q1's
    # scale-2 revenue units AND q17's scale-4 threshold): the audit must
    # verify each (column, scale) pair, not fold per column — a 3-dp poison
    # is exact at scale 4 and only the scale-2 precondition catches it.
    units("l_extendedprice", 2)
    units("l_extendedprice", 4)
    units("l_discount", 4)
    units("l_quantity", 4)
    assert {("l_extendedprice", 2), ("l_extendedprice", 4)} <= UNIT_CALLS
    yield UNIT_CALLS
    UNIT_CALLS.clear()
    UNIT_CALLS.update(saved)


def test_clean_fixture_certifies(spark, registry):
    fails = unit_precondition_failures(spark, SF)
    assert fails == [], fails


def test_poisoned_price_fails_with_named_column(spark, registry, tmp_path):
    """Poison ONE l_extendedprice to a 3-dp value: the check must fail and
    name lineitem.l_extendedprice — not silently produce a wrong sum."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    first_key = li.select("l_orderkey").limit(1).collect()[0][0]
    poisoned = li.withColumn(
        "l_extendedprice",
        F.when(F.col("l_orderkey") == first_key, F.lit(123.456)).otherwise(
            F.col("l_extendedprice")
        ),
    )
    out = str(tmp_path / "poisoned")
    os.makedirs(out)
    poisoned.write.parquet(f"{out}/lineitem.parquet")

    fails = unit_precondition_failures(spark, out)
    named = [f for f in fails if "lineitem.l_extendedprice" in f and "VIOLATED" in f]
    assert named, fails
    # 123.456 at scale 2 leaves residual ~0.4 — far past the margin
    assert any("0.4" in f for f in named), named
    # the untouched columns in the same table still certify
    assert not any("l_discount" in f and "VIOLATED" in f for f in fails)


def test_margin_is_between_noise_and_quantization():
    """The declared margin must sit far above double noise (measured
    <= 1e-9 on the fixtures) and far below the 0.5-unit threshold where
    rounding would actually change a value."""
    assert 1e-9 < UNITS_MARGIN < 0.5
