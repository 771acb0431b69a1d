"""Scale-smoke evidence for the heavy profiling and analytics operators at sf0.1.

The differential gate proves VALUES at sf0.01; these prove the heavy new
plans also complete at the 10x fixture within a generous wall-time bound
(the same evidence style as the kmeans/pagerank convergence-at-scale
tests).  Bounds are deliberately loose — they catch accidental quadratic
blow-ups and driver-side loops, not the ±25% box noise.
"""

from __future__ import annotations

import time

import pytest

import __spark_entry__ as entrymod

SF_01 = "/root/testdata/sf0.1"

QUERIES = entrymod.queries()

# Multi-minute sweep — gated from the default run (tests/conftest.py)
pytestmark = pytest.mark.slow

#: (query, max seconds at sf0.1 on local[32]) — heavy plans only
_HEAVY = [
    ("dup_ngram_spans", 120),
    ("simhash_exact_pairs", 120),
    ("item_cooccurrence_cf", 120),
    ("ngram_novelty_rate", 120),
    ("bloom_filter_probe", 60),
    ("pca_power_iteration", 60),
    ("active_users_rolling", 60),
    ("hits_hubs_authorities", 60),
    # time-series, graph, statistics and warehouse plans
    ("llr_collocations", 120),
    ("supplier_common_neighbors", 120),
    ("fifo_returns_allocation", 60),
    ("khop_reachability", 120),
    ("retrieval_mrr_ndcg", 60),
    ("b3_blocking_eval", 120),
    ("embedding_centroid_drift", 60),
    ("lsh_s_curve_calibration", 120),
    ("minhash_estimator_error", 120),
    ("peak_concurrency_daily", 60),
]


@pytest.mark.parametrize("name,bound", _HEAVY, ids=[n for n, _ in _HEAVY])
def test_scale_smoke_sf01(spark, name, bound):
    t0 = time.time()
    n = QUERIES[name](spark, SF_01).count()
    dt = time.time() - t0
    assert n > 0, f"{name} returned no rows at sf0.1"
    assert dt < bound, f"{name} took {dt:.1f}s at sf0.1 (bound {bound}s)"
