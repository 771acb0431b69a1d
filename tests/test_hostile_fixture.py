"""Hostile-values robustness: tools/make_sf_hostile.py findings.

Two axes with different contracts:

- TEXT edges (empty/whitespace-only docs, NBSP/NEL inside tokens, regex
  metacharacters, tab/newline separators, the finite all-zero vector):
  legitimate data the engine must process EXACTLY — the differential sweep
  against the text-only fixture must stay green (found: tokenizer-parity
  break on zero-token fingerprints via DuckDB's NULL ARRAY_TO_STRING([]),
  element_at/slice/sequence(1,0) ANSI aborts, and four zero-norm cosine
  aborts);
- NON-FINITE metrics (NaN/Inf in events.value, embeddings.embedding):
  OUT OF DOMAIN by declaration — both engines rightly refuse NaN->DECIMAL
  mid-query, so tools/audit_plans.py's finite-metric gate must REJECT such
  a fixture at preflight with named columns instead.

Full text-axis sweep: ``python tools/check_oracle.py .scratch/sf_hostile_text``
— expected all pass.
"""

from __future__ import annotations

import duckdb
import pytest

from tools.audit_plans import finite_metric_failures
from tools.check_oracle import check, duck_views
from tools.make_sf_hostile import build

# oracle-backed queries the text-edge sweep caught crashing or diverging
FIXED_TEXT = [
    "scalar_array_funcs",        # element_at on zero-token docs
    "scalar_higher_order_funcs", # sequence(1,0) is DESCENDING [1,0]
    "dup_ngram_spans",           # same sequence pitfall -> slice(.., 0, ..)
    "dedup_fingerprint",         # DuckDB ARRAY_TO_STRING([]) is NULL
    "source_overlap_matrix",
    "dup_rate_by_source",
    "b3_blocking_eval",
    "mdm_golden_record",
    "incremental_corpus_dedup",
    "embedding_pairwise_stats",  # zero-norm cosine
    "matryoshka_truncation_eval",
    "retrieval_mrr_ndcg",
    "semdedup_threshold_sweep",
]


@pytest.fixture(scope="module")
def sf_text(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfhostiletext"))
    build(spark, out, text=True, metrics=False)
    return out


@pytest.fixture(scope="module")
def duck_text(sf_text):
    with duck_views(sf_text) as con:
        yield con


@pytest.mark.parametrize("name", FIXED_TEXT)
def test_oracle_match_on_text_edges(spark, sf_text, duck_text, name):
    problems = check(spark, duck_text, name, sf_text)
    assert problems == [], problems


def test_finite_metric_gate_rejects_nonfinite_fixture(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfhostilefull"))
    build(spark, out, text=False, metrics=True)
    fails = finite_metric_failures(spark, out)
    assert any("events.value" in f for f in fails), fails
    assert any("embeddings.embedding" in f for f in fails), fails


def test_finite_metric_gate_passes_clean_fixture(spark):
    assert finite_metric_failures(spark, "/root/testdata/sf0.001") == []


def test_duckdb_empty_array_to_string_is_null():
    """The parity hazard the fingerprint oracles COALESCE around: DuckDB's
    ARRAY_TO_STRING([], ' ') is NULL while Spark's concat_ws is ''.  If an
    upgrade aligns them, the COALESCE is benignly redundant — update the
    notes."""
    (v,) = duckdb.sql("SELECT ARRAY_TO_STRING([]::VARCHAR[], ' ')").fetchall()[0]
    assert v is None, "DuckDB changed: ARRAY_TO_STRING([]) is no longer NULL"
