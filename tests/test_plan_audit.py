"""tools/audit_plans.py detectors: the machine-checked scale gates.

The audit's value is that REMOVING a partitionBy (or unbounding a cross
join) fails preflight rather than silently shipping a single-partition
stage.  These tests pin the detector halves directly on adversarial
plans, so the gate can't rot into a no-op.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tools.audit_plans import (
    ALLOW_BROADCAST,
    ALLOW_CROSS,
    ALLOW_GLOBAL_WINDOW,
    _global_window_inputs,
    _has_global_window,
)


def test_limit_bounds_window_input(spark):
    """A window over a LIMIT k audits as <= k rows, not as the deeper
    scan's count: limit nodes carry no numOutputRows metric, so without
    the explicit limit() bound the walker would descend past them and
    misattribute the corpus-sized child count to a k-row window."""
    base = spark.range(1000).select("id")
    top = base.orderBy(F.col("id").desc()).limit(20)
    ranked = top.select(
        "id", F.row_number().over(Window.orderBy(F.col("id").desc())).alias("r")
    )
    ranked.collect()
    inputs = _global_window_inputs(ranked._jdf.queryExecution().executedPlan())
    assert inputs and all(v <= 20 for v in inputs), inputs


@pytest.fixture(scope="module")
def df(spark):
    return spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") % 3).alias("v")
    )


def test_detector_flags_unpartitioned_window(df):
    bad = df.select(
        "id", F.row_number().over(Window.orderBy("id")).alias("r")
    )
    assert _has_global_window(bad._jdf.queryExecution().sparkPlan())


def test_detector_passes_partitioned_window(df):
    good = df.select(
        "id", F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("r")
    )
    assert not _has_global_window(good._jdf.queryExecution().sparkPlan())


def test_measured_input_rows_match_corpus_size(df):
    """The dynamic half: executed-plan metrics report the true row count
    feeding the single-partition window, so a corpus-sized one cannot
    hide behind a small declared bound."""
    bad = df.select("id", F.row_number().over(Window.orderBy("id")).alias("r"))
    bad.collect()
    inputs = _global_window_inputs(bad._jdf.queryExecution().executedPlan())
    assert inputs == [1000]


def test_allowlists_are_disjoint_and_registered():
    """Every boundedness claim must point at a live query (a rename would
    silently drop the check)."""
    import __spark_entry__ as em

    registered = set(em.queries())
    for allow in (ALLOW_CROSS, ALLOW_GLOBAL_WINDOW, ALLOW_BROADCAST):
        missing = set(allow) - registered
        assert missing == set(), missing
    # broadcast bounds must name real fixture tables with positive ratios
    for name, (table, ratio) in ALLOW_BROADCAST.items():
        assert table in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split(), name
        assert ratio > 0, name
