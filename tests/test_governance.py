"""Behavioral invariants for plans/governance.py.

Value-level cross-engine equality is covered by tools/check_oracle.py;
these pin the semantic contracts a hash comparison can't express —
CDC delete propagation, erasure-cascade transitivity, audit consistency.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE

QUERIES = entrymod.queries()


def test_fk_audit_covers_every_edge_and_fixtures_are_sound(spark):
    rows = {r.fk: r for r in QUERIES["fk_integrity_audit"](spark, SF_SMOKE).collect()}
    assert len(rows) == 7
    # the generated star schema is referentially sound — all edges clean
    for r in rows.values():
        assert r.n_orphans == 0
        assert r.n_rows > 0


def test_pk_audit_consistency(spark):
    rows = {r.pk: r for r in QUERIES["pk_uniqueness_audit"](spark, SF_SMOKE).collect()}
    assert len(rows) == 9
    for r in rows.values():
        assert r.n_dup_rows == r.n_rows - r.n_keys
        assert r.n_dup_rows == 0  # fixtures declare honest PKs


def test_cdc_apply_drops_tombstoned_keys(spark):
    import datetime as dt

    # key 1: U then D -> gone; key 2: D then U -> alive with latest payload;
    # key 3: single U -> alive
    base = dt.datetime(2024, 1, 1)
    rows = [
        (101, 1, "O", 10.0, base),
        (102, 1, "F", 0.0, base + dt.timedelta(days=1)),
        (103, 2, "F", 0.0, base),
        (104, 2, "O", 42.0, base + dt.timedelta(days=1)),
        (105, 3, "P", 7.0, base),
    ]
    df = spark.createDataFrame(
        rows, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    ).withColumn("o_orderpriority", F.lit("1-X"))
    import lms_etl_pipeline_spark.plans.governance as G

    orig = G.load_table
    df.createOrReplaceTempView("___cdc_lit")
    try:
        G.load_table = lambda s, d, t: s.table("___cdc_lit")
        out = {r.key: r for r in G.cdc_apply_changelog(spark, "x").collect()}
    finally:
        G.load_table = orig
    assert 1 not in out                      # delete wins as latest
    assert out[2].payload == 42.0            # resurrected by later upsert
    assert out[3].payload == 7.0
    assert all(r.last_op == "U" for r in out.values())


def test_erasure_cascade_counts_are_transitive_consistent(spark):
    from lms_etl_pipeline_spark.sources.tables import load_table

    rows = {r.table_name: r for r in QUERIES["gdpr_erasure_cascade"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"events", "orders", "lineitem"}
    cs = {r.cohort_size for r in rows.values()}
    assert len(cs) == 1 and cs.pop() > 0
    # lineitem scope must equal a direct recount through the order hop
    e = load_table(spark, SF_SMOKE, "events")
    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    cohort = e.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    ords = o.join(cohort, o.o_custkey == cohort.user_id).select("o_orderkey")
    expect_li = li.join(ords, li.l_orderkey == ords.o_orderkey).count()
    assert rows["lineitem"].n_rows_to_erase == expect_li
    assert rows["orders"].n_rows_to_erase <= rows["lineitem"].n_rows_to_erase * 10
