"""Broadcast build-side bounds are machine-measured, not argued.

Cross-join small sides, global-window inputs and units() preconditions
are checked by the audit; a broadcast-hash-join build side must be too,
not rest on a docstring argument ("eval sets are KBs, corpora are TBs").
tools/audit_plans.py now executes every ALLOW_BROADCAST query with BOTH
auto-broadcast paths disabled (so only hinted F.broadcast() sides remain)
and verifies the worst BroadcastExchange output against a declared
ratio * |driving table| bound.  These tests prove the gate passes on the
shipped catalog and FAILS WITH A NAMED QUERY on a deliberately
corpus-proportional broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.audit_plans import ALLOW_BROADCAST, check_broadcast_bounds

SF = "/root/testdata/sf0.001"


def test_corpus_proportional_broadcast_fails_with_named_query(spark):
    """A plan that hints F.broadcast() on the FULL corpus (the accident the
    gate exists to catch) must fail, naming the query."""

    def bad(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return d.select("doc_id").join(
            F.broadcast(d.select("doc_id", "lang")), "doc_id"
        )

    fails = check_broadcast_bounds(
        spark, {"bad_q": bad}, SF, bounds={"bad_q": ("documents", 0.2)}
    )
    assert any(
        "bad_q" in f and "corpus-proportional" in f for f in fails
    ), fails


def test_within_bound_broadcast_passes(spark):
    """The same shape under its declared contraction (a 1/29 eval slice)
    certifies."""

    def ok(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ev = d.filter(F.col("doc_id") % 29 == 0).select("doc_id")
        return d.join(F.broadcast(ev), "doc_id", "leftsemi")

    fails = check_broadcast_bounds(
        spark, {"ok_q": ok}, SF, bounds={"ok_q": ("documents", 0.2)}
    )
    assert fails == [], fails


def test_allowlisted_but_unregistered_fails(spark):
    fails = check_broadcast_bounds(
        spark, {}, SF, bounds={"ghost": ("documents", 1.0)}
    )
    assert any("ghost" in f and "not registered" in f for f in fails)


def test_auto_broadcast_confs_restored(spark):
    """The measuring run flips both auto-broadcast thresholds to -1; they
    must come back, or every later plan in the session silently loses
    broadcast joins."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)

    def q(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    check_broadcast_bounds(spark, {"q": q}, SF, bounds={"q": ("documents", 1.0)})
    assert spark.conf.get(key) == before


def test_shipped_allowlist_certifies(spark):
    """The real catalog's declared bounds hold on the live fixture — the
    same check main() runs, scoped to the curation family it covers."""
    import __spark_entry__ as em

    fails = check_broadcast_bounds(spark, em.queries(), SF)
    assert fails == [], fails
    assert set(ALLOW_BROADCAST) >= {
        "decontaminate_ngram_overlap",
        "boilerplate_ngram_filter",
        "corpus_curation_pipeline",
    }
