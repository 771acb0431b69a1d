"""Single-row-input robustness: the defects tools/make_sf_one.py
found — the n-1 variance denominators, zero-variance normalizations,
single-class pair counts, and 1x1 contingency tables that a zero-row sweep
can't reach (NULLs short-circuit them).

Full sweep: ``python tools/check_oracle.py .scratch/sf_one`` — expected
all pass.
"""

from __future__ import annotations

import duckdb
import pytest

from tools.check_oracle import check, duck_views
from tools.make_sf_one import build

# every query the n=1 sweep caught ANSI-aborting or diverging (now green)
FIXED = [
    "ab_test_lift_report",        # n-1 variance, missing arm
    "anova_f_event_types",        # k=1 / n=k dof
    "correlation_matrix",         # zero variance product
    "cramers_v_association",      # 1x1 contingency table
    "cusum_changepoints",         # m=1 sigma
    "embedding_centroid_drift",   # empty delta split (inner-join dims)
    "ks_test_drift",              # one-sided sample CDF
    "ols_regression_by_group",    # single-point group variance
    "pca_power_iteration",        # zero-norm centered cloud
    "quality_ranker_auc",         # single-class pair count
    "wilson_conversion_ci",       # DuckDB DECIMAL-literal double-rounding
]


@pytest.fixture(scope="module")
def sf_one(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfone"))
    build(spark, out)
    return out


@pytest.fixture(scope="module")
def duck1(sf_one):
    with duck_views(sf_one) as con:
        yield con


@pytest.mark.parametrize("name", FIXED)
def test_oracle_match_on_single_row_input(spark, sf_one, duck1, name):
    problems = check(spark, duck1, name, sf_one)
    assert problems == [], problems


def test_duckdb_bare_float_literal_double_rounds():
    """The hazard class wilson hit: a bare float literal parses via DECIMAL
    in DuckDB and can land one ulp off the double Python/Spark hold; the
    string-cast form parses exactly.  If an upgrade fixes the bare form,
    this pin flags the (benign) staleness of the convention note."""
    z2 = 1.959963984540054 ** 2
    (bare,) = duckdb.sql(f"SELECT {z2!r} / 2").fetchall()[0]
    (cast,) = duckdb.sql(f"SELECT CAST('{z2!r}' AS DOUBLE) / 2").fetchall()[0]
    assert cast == z2 / 2
    assert bare != z2 / 2, "DuckDB bare-literal parsing changed — update the note"
