"""Recall floors for the approximate similarity paths.

``ann_recall_eval`` and ``lsh_recall_eval`` MEASURE recall exactly (both
sides of each comparison are deterministic, engine-portable hashes), but
until now nothing ASSERTED it — a hash-family or banding edit could
silently degrade the approximate path while every differential check
stayed green (the oracle recomputes the same degraded buckets).  These
tests pin the measured baselines on the sf0.001 fixture:

- the MinHash-LSH near-dup path (k=8, bands=4) achieves FULL recall of
  the exact >=0.5-Jaccard pairs (28/28) — pinned as equality, so any
  regression fails;
- banding has measurable teeth: collapsing to one 8-row band (the
  all-slots-must-match degenerate) loses pairs (25/28 measured), which
  proves the metric actually moves when the s-curve is squeezed;
- the hyperplane-LSH ANN path's recall@3 totals are pinned exactly
  (2/60 found on the random synthetic embeddings — near-orthogonal
  vectors rarely share a 256-bucket cell; the catalog documents this as
  the tuning measurement, not a quality claim).  Any edit to the
  hyperplane matrix, bucket count, or hash family moves these integers
  and fails here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from lms_etl_pipeline_spark.operators import dedup as dd
from lms_etl_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

QUERIES = entrymod.queries()


def test_lsh_near_dup_full_recall_pinned(spark):
    row = QUERIES["lsh_recall_eval"](spark, SF_SMOKE).collect()[0]
    assert row.n_true == 28, "exact-pair truth set changed"
    assert row.n_found == row.n_true, (
        f"MinHash-LSH (k=8, bands=4) lost near-dup pairs: "
        f"{row.n_found}/{row.n_true} — banding or hash family regressed"
    )
    assert row.recall == 1.0


@pytest.mark.slow  # >14 s: gated from the default run
def test_lsh_banding_has_teeth(spark):
    """One 8-row band (every slot must match) measurably loses pairs —
    the metric the floor above relies on actually moves under banding
    changes.  (bands=2 still reaches 28/28 on this fixture: its dup pairs
    sit far right on the s-curve, so the demonstration uses the
    degenerate banding.)"""
    d = load_table(spark, SF_SMOKE, "documents")
    truth = dd.jaccard_pairs_prefix(
        d, "doc_id", "text", n=3, threshold=0.5, num_partitions=8
    ).select("a", "b")
    degraded = dd.near_dup_pairs(d, "doc_id", "text", bands=1).select("a", "b")
    n_true = truth.count()
    n_found = truth.join(degraded, ["a", "b"], "leftsemi").count()
    assert n_found < n_true, (
        "degenerate banding should lose pairs; if this starts passing "
        "the fixture or hash family changed — re-measure the pins"
    )


def test_ann_recall_totals_pinned(spark):
    row = (
        QUERIES["ann_recall_eval"](spark, SF_SMOKE)
        .agg(
            F.sum("n_true").alias("n_true"),
            F.sum("n_found").alias("n_found"),
        )
        .collect()[0]
    )
    assert row.n_true == 60  # 20 queries x k=3
    assert row.n_found == 2, (
        "hyperplane-LSH recall@3 moved from its pinned baseline — the "
        "hyperplane matrix / bucketing / hash family changed; re-measure "
        "and update the pin deliberately, never silently"
    )
