"""Zero-row-input robustness: the defects tools/make_sf0.py found.

A pipeline meets empty inputs constantly (filters that match nothing, empty
ingest days); these tests pin the queries the empty-fixture sweep caught
crashing or diverging, plus the one DOCUMENTED engine divergence
(Spark CUBE/ROLLUP omit the grand-total grouping-set row over zero rows;
DuckDB/PostgreSQL emit it per the SQL standard).

Full sweep: ``python tools/check_oracle.py .scratch/sf0`` — expected
all pass but the two cube/rollup divergences.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.check_oracle import check, duck_views
from tools.make_sf0 import build

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# queries the sf0 sweep caught CRASHING (must now run and match the oracle)
FIXED_CRASHES = [
    "wilson_conversion_ci",
    "lsh_recall_eval",
    "curated_corpus_partitioned_write",
    # kth_smallest(k=0) on an empty column returns the oracle's empty
    # join result instead of raising
    "quantile_exact_selection",
]
# rows-only queries that crashed (must now return an empty frame)
FIXED_CRASHES_ROWS_ONLY = ["knn_cosine_ivf"]
# queries whose empty-input VALUES diverged from the oracle (now aligned)
FIXED_DIVERGENCES = [
    "etl_dq_violations",
    "gini_concentration",
    "cramers_v_association",
]
# breadth sample: heavy/representative plans that must stay empty-clean
SAMPLE = [
    "dsir_importance_selection",
    "dup_span_removal",
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q9_product_profit",
    "flagship_regional_revenue",
    "near_dup_pairs_lsh",
    "corpus_curation_pipeline",
    "tf_idf_top_terms",
    "events_session_window",
    "token_budget_selection",
    "window_range_between",
    "attribution_linear_multitouch",
    "fifo_returns_allocation",
]


@pytest.fixture(scope="module")
def sf0(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf0"))
    build(spark, out)
    return out


@pytest.fixture(scope="module")
def duck0(sf0):
    with duck_views(sf0) as con:
        yield con


@pytest.mark.parametrize(
    "name", FIXED_CRASHES + FIXED_DIVERGENCES + [s for s in SAMPLE if s in ORACLES]
)
def test_oracle_match_on_empty_input(spark, sf0, duck0, name):
    problems = check(spark, duck0, name, sf0)
    assert problems == [], problems


@pytest.mark.parametrize("name", FIXED_CRASHES_ROWS_ONLY)
def test_rows_only_queries_survive_empty_input(spark, sf0, name):
    assert QUERIES[name](spark, sf0).count() == 0


def test_cube_rollup_grand_total_divergence_is_pinned(spark, sf0, duck0):
    """Spark's CUBE/ROLLUP return ZERO rows over empty input; the SQL
    standard (and DuckDB) emit the () grouping-set grand-total row.  This
    is a deliberate documented divergence (tools/make_sf0.py) — if a Spark
    upgrade starts emitting the row, this test fails so the docs (and the
    expected sweep tally) get updated."""
    for name in ("agg_rollup", "agg_cube"):
        assert QUERIES[name](spark, sf0).count() == 0, f"{name}: Spark changed!"
        assert len(duck0.sql(ORACLES[name]).fetchall()) == 1, f"{name}: DuckDB changed!"
