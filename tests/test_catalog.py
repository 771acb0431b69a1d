"""Contract tests: the driver-facing registry in ``__spark_entry__``.

- every oracle key has a query, every query builds a valid lazy plan;
- Spark plan columns == DuckDB oracle columns (the driver's comparator
  hashes by sorted column name — a mismatch is an automatic red row);
- every oracle-backed query matches DuckDB at sf0.001, through the same
  ``tools/check_oracle.check`` seam the command-line sweep uses;
- ``entry()`` runs and returns rows at sf0.001.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from lms_etl_pipeline_spark.plans.catalog import SMOKE_ANCHORS
from tests.conftest import SF_SMOKE
from tools.check_oracle import (
    ROWS_ONLY_ANCHORS,
    check,
    duck_views,
    hugeint_columns,
    native_class_divergences,
    spark_decimal_columns,
)

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_registry_nonempty_and_oracle_keys_subset():
    assert len(QUERIES) >= 50
    assert set(ORACLES) <= set(QUERIES)
    # the overwhelming majority must be oracle-checkable
    assert len(ORACLES) >= 0.8 * len(QUERIES)


def test_first_50_follow_the_rotation_policy():
    """The first 50 ``queries()`` entries: the two smoke anchors lead,
    then oracle-backed queries round-robin over their plan modules, so
    every module with an oracle-backed query has one in the window."""
    first50 = list(QUERIES)[:50]
    assert first50[:2] == list(SMOKE_ANCHORS)
    assert all(n in ORACLES for n in first50)
    modules = {QUERIES[n].__module__ for n in ORACLES}
    assert modules <= {QUERIES[n].__module__ for n in first50}


@pytest.fixture(scope="module")
def duck():
    with duck_views(SF_SMOKE) as con:
        yield con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    """The whole-catalog differential gate: every oracle-backed query
    matches its DuckDB twin at sf0.001 (``tools/check_oracle.check``)."""
    problems = check(spark, duck, name, SF_SMOKE)
    assert problems == [], problems


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_builds_and_columns_match_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_SMOKE)  # lazy: plan analysis only
    assert df.columns, name
    if name in ORACLES:
        cur = duck.execute(f"SELECT * FROM ({ORACLES[name]}) LIMIT 0")
        duck_cols = [d[0] for d in cur.description]
        assert sorted(df.columns) == sorted(duck_cols), name


def test_hugeint_gate_fires_on_deliberate_offender(duck):
    """A hashing hazard: DuckDB widens SUM(integer) to HUGEINT
    (int128), which the driver's hasher mismatches against Spark BIGINT even
    at equal values.  The gate must detect the class structurally."""
    rel = duck.sql("SELECT SUM(i) AS s FROM range(10) t(i)")
    assert hugeint_columns(rel) == ["s"]
    rel_ok = duck.sql("SELECT CAST(SUM(i) AS BIGINT) AS s FROM range(10) t(i)")
    assert hugeint_columns(rel_ok) == []


def test_decimal_gate_fires_on_deliberate_offender(duck, spark):
    """A hashing hazard: a DECIMAL(38,x) output column fetches as
    decimal.Decimal, which a native-type hasher mismatches
    against Spark's int even at equal values.  Both the DuckDB-side and
    Spark-side gates must detect it."""
    rel = duck.sql("SELECT CAST(42 AS DECIMAL(38,0)) AS d, 1 AS ok")
    assert hugeint_columns(rel) == ["d"]
    sdf = spark.sql("SELECT CAST(42 AS DECIMAL(38,0)) AS d, 1 AS ok")
    assert spark_decimal_columns(sdf) == ["d"]
    sdf_ok = spark.sql("SELECT CAST(42 AS BIGINT) AS d, 1 AS ok")
    assert spark_decimal_columns(sdf_ok) == []


def test_native_class_gate_fires_on_planted_divergence():
    """The comparator must flag any output column whose native Python
    cell class differs between the Spark and DuckDB fetch paths — int vs
    Decimal, date vs datetime — while folding the benign bytearray/bytes
    pair."""
    import datetime

    idx = {"a": 0, "b": 1}
    s_rows = [(1, datetime.date(2020, 1, 1))]
    d_rows = [(1, datetime.datetime(2020, 1, 1))]
    out = native_class_divergences(s_rows, idx, d_rows, idx, ["a", "b"])
    assert len(out) == 1 and "'b'" in out[0]

    from decimal import Decimal

    out = native_class_divergences([(Decimal(5),)], {"c": 0}, [(5,)], {"c": 0}, ["c"])
    assert len(out) == 1 and "Decimal" in out[0]

    out = native_class_divergences(
        [(bytearray(b"x"),)], {"c": 0}, [(b"x",)], {"c": 0}, ["c"]
    )
    assert out == []
    # all-null columns are skipped (nothing to compare)
    out = native_class_divergences([(None,)], {"c": 0}, [(None,)], {"c": 0}, ["c"])
    assert out == []


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_spark_plan_emits_no_decimal(spark, name):
    """No registered Spark plan may emit a decimal-typed OUTPUT column —
    binding only, no execution (internal decimal widening is fine; the rule
    is about what reaches the driver's native-type hasher)."""
    df = QUERIES[name](spark, SF_SMOKE)
    assert spark_decimal_columns(df) == [], (
        f"{name}: cast decimal outputs to bigint/double or split into "
        "BIGINT limbs"
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_emits_no_hugeint(duck, name):
    """No registered oracle may emit HUGEINT — binding only, no execution."""
    rel = duck.sql(ORACLES[name])
    assert hugeint_columns(rel) == [], (
        f"{name}: CAST the integer aggregate(s) to BIGINT"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "revenue" in df.columns


def test_rows_only_anchor_map_matches_catalog():
    """tools/check_oracle.py's ROWS_ONLY_ANCHORS must exactly cover the
    catalog's rows-only set, with every anchor oracle-backed — so the
    approx-path coverage claim stays machine-derived as queries move."""
    rows_only = {n for n in QUERIES if n not in ORACLES}
    assert set(ROWS_ONLY_ANCHORS) == rows_only
    for name, anchors in ROWS_ONLY_ANCHORS.items():
        assert anchors, name
        for a in anchors:
            assert a in ORACLES, f"{name}: anchor {a} is not oracle-backed"


def test_bench_steal_sample_contract():
    """bench.py's hypervisor-steal probe: two non-negative tick counters
    with steal <= total, total strictly growing between samples (it feeds
    the steal_high contention signal — a bad read must come back None,
    never a junk ratio)."""
    import bench

    s = bench.steal_sample()
    if s is None:  # non-Linux /proc layout — the signal degrades to off
        return
    steal0, total0 = s
    assert 0 <= steal0 <= total0
    import time as _time

    _time.sleep(0.05)
    steal1, total1 = bench.steal_sample()
    assert total1 > total0 and steal1 >= steal0
