"""Behavioral invariants for plans/timeseries.py, graph_retrieval.py, stats_eval.py and business_analytics.py.

Value-level cross-engine equality is covered by tools/check_oracle.py;
these pin the semantic contracts a hash comparison can't express.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE

QUERIES = entrymod.queries()


# -------------------------------------------------------- EWMA smoothing


def test_ewma_within_series_envelope_and_warmup_identity(spark):
    df = QUERIES["ewma_smoothing"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    by_series: dict[str, list] = {}
    for r in rows:
        by_series.setdefault(r.event_type, []).append(r)
    for series in by_series.values():
        series.sort(key=lambda r: r.day)
        # first point has no history: ewma == x exactly
        assert abs(series[0].ewma - series[0].x) < 1e-6
        # every smoothed value lies inside the min/max envelope of the
        # 9-observation window that produced it (convex combination)
        for i, r in enumerate(series):
            window = [s.x for s in series[max(0, i - 8) : i + 1]]
            assert min(window) - 1e-6 <= r.ewma <= max(window) + 1e-6


def test_ewma_smooths_variance(spark):
    df = QUERIES["ewma_smoothing"](spark, SF_SMOKE)
    stats = df.groupBy("event_type").agg(
        F.var_samp("x").alias("vx"), F.var_samp("ewma").alias("ve")
    )
    for r in stats.collect():
        if r.vx and r.vx > 0:
            assert r.ve <= r.vx * 1.05  # smoothing may not inflate variance


# ---------------------------------------------------------------- ACF


def test_acf_bounded_and_pair_counts_consistent(spark):
    df = QUERIES["acf_lags"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    assert {r.lag for r in rows} == {1, 7}
    for r in rows:
        if r.acf is not None:
            assert -1.0 - 1e-9 <= r.acf <= 1.0 + 1e-9
    # lag-7 pairing loses exactly 6 more pairs than lag-1 for a
    # contiguous daily series (n - lag pairs per series)
    by_type: dict[str, dict[int, int]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, {})[r.lag] = r.n_pairs
    for lags in by_type.values():
        if 1 in lags and 7 in lags:
            assert lags[1] - lags[7] <= 6


# ------------------------------------------------- activity streaks


def test_streaks_partition_active_days(spark):
    df = QUERIES["activity_streaks"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert 1 <= r.longest_streak <= r.n_active_days
        assert r.n_streaks >= 1
        # islands partition the active-day set: streak count can never
        # exceed active days, and equality means all streaks are length 1
        assert r.n_streaks <= r.n_active_days
        if r.n_streaks == r.n_active_days:
            assert r.longest_streak == 1


def test_streaks_known_sequence(spark):
    rows = [
        (1, dt.datetime(2024, 1, d)) for d in (1, 2, 3, 7, 9, 10)
    ]  # islands: {1,2,3}, {7}, {9,10}
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    active = df.select("user_id", F.to_date("ts").alias("day")).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("day")
    grp = active.select(
        "user_id", F.date_sub("day", F.row_number().over(w)).alias("g")
    )
    islands = grp.groupBy("user_id", "g").count()
    lens = sorted(r["count"] for r in islands.collect())
    assert lens == [1, 2, 3]


# --------------------------------------------------- k-hop reachability


def test_khop_against_independent_closure(spark):
    """Recompute the bounded BFS with plain Python sets over the same
    edge list and require exact equality per source — provable on ANY
    fixture, unlike a monotonicity heuristic (a supplier used solely by
    the source is excluded from hop3 because hop2 filters cocust != cust,
    so 3hop >= direct is density-dependent, not an invariant)."""
    df = QUERIES["khop_reachability"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    edges = {
        (r.cust, r.supp)
        for r in o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
        .collect()
    }
    by_cust: dict[int, set[int]] = {}
    by_supp: dict[int, set[int]] = {}
    for cust, supp in edges:
        by_cust.setdefault(cust, set()).add(supp)
        by_supp.setdefault(supp, set()).add(cust)
    expected = {}
    for src in {c for c, _ in edges if c < 25}:
        h1 = by_cust[src]
        h2 = {c for s in h1 for c in by_supp[s] if c != src}
        h3 = {s for c in h2 for s in by_cust[c]}
        expected[src] = (len(h1), len(h2), len(h3))
    got = {
        r.src_custkey: (
            r.n_direct_suppliers,
            r.n_cocustomers_2hop,
            r.n_suppliers_3hop,
        )
        for r in rows
    }
    assert got == expected


# ------------------------------------------------------ MRR / NDCG


def test_retrieval_metrics_in_range(spark):
    df = QUERIES["retrieval_mrr_ndcg"](spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.first_rel_rank <= 10
        assert 0.0 <= r.rr <= 1.0
        assert r.ndcg10 is None or 0.0 <= r.ndcg10 <= 1.0 + 1e-9
        # rr and first_rel_rank agree
        if r.first_rel_rank > 0:
            assert abs(r.rr - round(1.0 / r.first_rel_rank, 6)) < 1e-9
            assert r.ndcg10 and r.ndcg10 > 0.0
        else:
            assert r.rr == 0.0


# ------------------------------------------- SCD2 point-in-time snapshot


def test_scd2_snapshot_one_row_per_key(spark):
    df = QUERIES["scd2_snapshot_asof"](spark, SF_SMOKE)
    total = df.count()
    distinct_keys = df.select("o_custkey").distinct().count()
    assert total == distinct_keys > 0  # validity windows partition time


def test_scd2_snapshot_matches_history_filter(spark):
    snap = QUERIES["scd2_snapshot_asof"](spark, SF_SMOKE)
    hist = QUERIES["scd2_order_status_history"](spark, SF_SMOKE)
    from lms_etl_pipeline_spark.sources.tables import load_table

    o = load_table(spark, SF_SMOKE, "orders")
    asof = o.agg(
        F.date_add(F.to_date(F.min("o_orderdate")), 365).cast("timestamp")
    ).collect()[0][0]
    # every snapshot row under custkey<100 appears in the SCD2 history as
    # the unique interval covering the as-of instant
    expect = (
        hist.filter(
            (F.col("valid_from") <= F.lit(asof))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(asof)))
        )
        .select("o_custkey", "o_orderstatus")
        .collect()
    )
    got = {
        (r.o_custkey, r.status_asof)
        for r in snap.filter(F.col("o_custkey") < 100).collect()
    }
    assert got == {(r.o_custkey, r.o_orderstatus) for r in expect}


# ------------------------------------------------- FIFO allocation


def test_fifo_allocation_conserves_and_bounds(spark):
    df = QUERIES["fifo_returns_allocation"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r.consumed_qty <= r.qty + 1e-9
    # conservation: per part, allocated total == min(returns, receipts)
    from lms_etl_pipeline_spark.sources.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    agg = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))).alias(
                "r"
            ),
            F.sum(
                F.when(F.col("l_returnflag") != "R", F.col("l_quantity"))
            ).alias("s"),
        )
        .filter(F.col("r").isNotNull() & F.col("s").isNotNull())
        .collect()
    )
    expect = {a.l_partkey: min(a.r, a.s) for a in agg}
    got: dict[int, float] = {}
    for r in rows:
        got[r.l_partkey] = got.get(r.l_partkey, 0.0) + r.consumed_qty
    for pk, v in got.items():
        assert abs(v - expect[pk]) < 1e-6


# ------------------------------------------------- LLR collocations


def test_llr_nonnegative_and_ranked_by_association(spark):
    df = QUERIES["llr_collocations"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.k11 >= 8
        # G2 is mathematically >= 0; per-term 1e-6 rounding can dip a hair
        assert r.llr >= -0.01


# ------------------------------------- systematic stratified sampling


def test_systematic_sample_counts_and_spacing(spark):
    df = QUERIES["systematic_sample_stratified"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    from lms_etl_pipeline_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    per_source = {
        r.source: r["count"] for r in d.groupBy("source").count().collect()
    }
    got: dict[str, list[int]] = {}
    for r in rows:
        got.setdefault(r.source, []).append(r.rn)
    for src, rns in got.items():
        n = per_source[src]
        assert len(rns) == (n + 9) // 10  # ceil(n/10): every 10th + remainder
        assert sorted(rns) == list(range(1, n + 1, 10))


# ------------------------------------------- common-neighbor similarity


def test_common_neighbors_bounds(spark):
    df = QUERIES["supplier_common_neighbors"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.s1 < r.s2  # oriented pairs, no mirror duplicates
        assert r.n_shared >= 20
        assert 0.0 < r.jaccard <= 1.0


# ------------------------------------------------- surrogate-key audit


def test_surrogate_keys_no_collisions_at_fixture_scale(spark):
    df = QUERIES["surrogate_key_audit"](spark, SF_SMOKE)
    rows = {r.table_name: r for r in df.collect()}
    assert set(rows) == {"orders", "customer", "part"}
    for r in rows.values():
        assert r.n_keys <= r.n_rows
        assert r.n_collisions == 0  # 60-bit space vs <=1e6 keys
        assert r.n_surrogates == r.n_keys


def test_surrogate_key_audit_fingerprint_is_session_independent(spark):
    """bench.plan_fingerprint of the audit is one value however many
    expression ids the session allocated before the build."""
    import bench

    prints = set()
    for i in range(6):
        # analyzing this frame takes i*3+1 fresh expression ids
        spark.range(1).select(*[F.lit(j).alias(f"c{j}") for j in range(i * 3 + 1)])
        prints.add(bench.plan_fingerprint(QUERIES["surrogate_key_audit"](spark, SF_SMOKE)))
    assert len(prints) == 1, prints


# ------------------------------------------------- weekly churn


def test_churn_bounds_and_last_week_excluded(spark):
    df = QUERIES["churned_users_weekly"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    last_week = (
        e.select(F.date_trunc("week", F.to_date("ts")).alias("w"))
        .agg(F.max(F.to_date("w")))
        .collect()[0][0]
    )
    for r in rows:
        assert 0 <= r.n_churned <= r.n_active
        assert abs(r.churn_rate - round(r.n_churned / r.n_active, 6)) < 1e-9
        assert r.week != last_week  # no "churn" into an unobserved future


# ------------------------------------------- order-to-ship latency


def test_latency_percentile_ordering(spark):
    df = QUERIES["order_to_ship_latency"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.min_days <= r.p50_days <= r.p95_days <= r.max_days
        assert r.n > 0


# ------------------------------------------- cumulative unique users


def test_cumulative_unique_matches_direct_distinct(spark):
    df = QUERIES["cumulative_unique_users"](spark, SF_SMOKE)
    rows = sorted(df.collect(), key=lambda r: r.day)
    assert rows
    # monotone and ending at the total distinct-user count
    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    total = e.select("user_id").distinct().count()
    prev = 0
    for r in rows:
        assert r.cum_unique == prev + r.n_new
        prev = r.cum_unique
    assert rows[-1].cum_unique == total
    # spot-check one mid-calendar prefix against a direct distinct count
    mid = rows[len(rows) // 2]
    direct = (
        e.filter(F.to_date("ts") <= F.lit(mid.day))
        .select("user_id")
        .distinct()
        .count()
    )
    assert mid.cum_unique == direct


# ------------------------------------------------- SAX symbolization


def test_sax_symbols_equal_occupancy_and_order(spark):
    df = QUERIES["sax_symbolization"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        assert r.symbol in {"a", "b", "c", "d"}
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        # NTILE equal occupancy: symbol counts differ by at most 1
        counts: dict[str, int] = {}
        for r in series:
            counts[r.symbol] = counts.get(r.symbol, 0) + 1
        if len(series) >= 4:
            assert max(counts.values()) - min(counts.values()) <= 1
        # symbol order tracks PAA order: every 'a' frame <= every 'd' frame
        a_vals = [r.paa for r in series if r.symbol == "a"]
        d_vals = [r.paa for r in series if r.symbol == "d"]
        if a_vals and d_vals:
            assert max(a_vals) <= min(d_vals)


# ------------------------------------------- first-in-window dedup


def test_dedup_first_in_window_one_survivor_per_cell(spark):
    df = QUERIES["dedup_first_in_window"](spark, SF_SMOKE)
    cells = df.select(
        "user_id",
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).alias("w"),
    )
    assert cells.count() == cells.distinct().count()
    # survivors are a subset of the input and never exceed it
    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    assert 0 < df.count() <= e.count()


# ------------------------------------------------- pinball loss


def test_pinball_loss_nonnegative_and_q_sensitivity(spark):
    df = QUERIES["pinball_loss_eval"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.pinball_loss >= 0.0  # pinball loss is nonnegative
        assert r.q in (0.5, 0.9)
        assert r.n_test_days > 0


# ------------------------------------------- Matryoshka truncation


def test_matryoshka_overlap_bounds(spark):
    df = QUERIES["matryoshka_truncation_eval"](spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.n_overlap_at_10 <= 10
        assert abs(r.overlap_frac - r.n_overlap_at_10 / 10) < 1e-9


# ------------------------------------------- shingle containment


def test_containment_dominates_jaccard(spark):
    df = QUERIES["ngram_containment_pairs"](spark, SF_SMOKE)
    rows = df.collect()
    for r in rows:
        assert r.id_a < r.id_b
        assert 0.5 <= r.max_containment <= 1.0 + 1e-9
        assert r.n_shared >= 1


# ------------------------------------------- price-volume-mix bridge


def test_pvm_identity_exact(spark):
    df = QUERIES["price_volume_mix_decomposition"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        # Δrev ≡ price + volume + mix, bit-exact in fixed point
        assert r.delta_rev_fp == (
            r.price_effect_fp + r.volume_effect_fp + r.mix_effect_fp
        )


# ------------------------------------------- A/B sample size


def test_sample_size_scales_with_variance(spark):
    df = QUERIES["ab_sample_size_planning"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.n_per_arm >= 1
        assert r.variance >= 0
        assert r.mde > 0
        # recompute the formula end-to-end from the emitted columns
        from lms_etl_pipeline_spark.plans.stats_eval import _SS_K

        import math

        expect = math.ceil(_SS_K * r.variance / (r.mde * r.mde))
        # emitted columns are rounded; allow one ceil step of slack
        assert abs(r.n_per_arm - expect) <= max(2, expect * 0.01)


# ------------------------------------------- Wasserstein drift


def test_wasserstein_vs_ks_relationship(spark):
    w1 = QUERIES["wasserstein_drift_1d"](spark, SF_SMOKE).collect()[0]
    assert w1.w1_distance >= 0
    assert w1.n_index > 0 and w1.n_delta > 0
    # identical distributions would give 0; delta vs index over the same
    # generator should be small relative to the value range
    from lms_etl_pipeline_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    rng = d.agg(
        (F.max("n_chars") - F.min("n_chars")).alias("range")
    ).collect()[0]["range"]
    assert w1.w1_distance <= rng


# ------------------------------------------- weekly seasonal index


def test_seasonal_index_centered_near_one(spark):
    df = QUERIES["seasonal_index_weekly"](spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0.0 < r.seasonal_index < 7.0  # ratio to a 7-day mean
        assert 1 <= r.weekday <= 7
    # per type, the mean of per-day ratios over the whole calendar is ~1
    import statistics

    by_type: dict[str, list[float]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).extend(
            [r.seasonal_index] * r.n_obs
        )
    for vals in by_type.values():
        assert 0.7 < statistics.mean(vals) < 1.3


# ------------------------------------------------- B-cubed eval


def test_b3_bounds_and_f1_harmonic(spark):
    r = QUERIES["b3_blocking_eval"](spark, SF_SMOKE).collect()[0]
    assert r.n_docs > 0
    assert 0.0 < r.b3_precision <= 1.0
    assert 0.0 < r.b3_recall <= 1.0
    expect_f1 = (
        2 * r.b3_precision * r.b3_recall / (r.b3_precision + r.b3_recall)
    )
    assert abs(r.b3_f1 - expect_f1) < 1e-12
    assert min(r.b3_precision, r.b3_recall) <= r.b3_f1 <= max(
        r.b3_precision, r.b3_recall
    )


def test_b3_perfect_when_pred_equals_gold(spark):
    # identical labelings must score P = R = 1 (up to the 1e-6 floor)
    from pyspark.sql import functions as F2

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "c"), (6, "c")],
        "doc_id long, lab string",
    )
    lab = df.select("doc_id", F2.col("lab").alias("pred"), F2.col("lab").alias("gold"))
    np_ = lab.groupBy("pred").agg(F2.count("*").alias("n_p"))
    ng = lab.groupBy("gold").agg(F2.count("*").alias("n_g"))
    npg = lab.groupBy("pred", "gold").agg(F2.count("*").alias("n_pg"))
    per_doc = (
        lab.join(np_, "pred").join(ng, "gold").join(npg, ["pred", "gold"])
        .selectExpr(
            "CAST((CAST(n_pg AS DECIMAL(38,0)) * 1000000) div n_p AS BIGINT) AS p_micro",
            "CAST((CAST(n_pg AS DECIMAL(38,0)) * 1000000) div n_g AS BIGINT) AS r_micro",
        )
    )
    row = per_doc.agg(
        F2.min("p_micro").alias("pmin"), F2.min("r_micro").alias("rmin")
    ).collect()[0]
    assert row.pmin == row.rmin == 1_000_000


# ------------------------------------------------- repeat purchase cycle


def test_repeat_purchase_cycle_percentiles(spark):
    rows = QUERIES["repeat_purchase_cycle"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_gaps > 0
        assert 0 <= r.p50_days <= r.p90_days


# ------------------------------------------------- peer benchmark


def test_peer_benchmark_median_splits_group(spark):
    rows = QUERIES["peer_benchmark_vs_median"](spark, SF_SMOKE).collect()
    assert rows
    by_nat: dict[int, list] = {}
    for r in rows:
        by_nat.setdefault(r.s_nationkey, []).append(r)
    for grp in by_nat.values():
        above = sum(1 for r in grp if r.above_median)
        # at most half the peer group can sit strictly above its median
        assert above <= len(grp) / 2
        # delta sign agrees with the flag (doubled fixed-point units)
        for r in grp:
            if r.above_median:
                assert r.delta2_vs_median_fp > 0


# ------------------------------------------------- QTE (A/A)


def test_qte_aa_split_near_zero(spark):
    r = QUERIES["ab_quantile_treatment_effect"](spark, SF_SMOKE).collect()[0]
    assert r.n_treat > 0 and r.n_control > 0
    med = abs(r.qte_p50)
    # A/A hash split: quantile differences should be small vs the spend scale
    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    scale = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("value").alias("s"))
        .agg(F.expr("percentile(s, 0.5)"))
        .collect()[0][0]
    )
    assert med < scale * 0.5  # not a rigorous CI, just an A/A sanity bound


# ------------------------------------------------- embedding drift


def test_embedding_drift_self_is_zero_and_cosine_bounds(spark):
    r = QUERIES["embedding_centroid_drift"](spark, SF_SMOKE).collect()[0]
    assert r.n_dims == 64
    assert r.l2_drift >= 0
    assert -1.0 - 1e-9 <= r.centroid_cosine <= 1.0 + 1e-9
    # near-zero-mean embeddings make the centroid direction noisy; only
    # the magnitude claim is stable: drift is small vs a unit vector
    assert r.l2_drift < 1.0


# ------------------------------------------------- top-N + other


def test_topn_other_reconciles_to_total(spark):
    df = QUERIES["topn_plus_other_rollup"](spark, SF_SMOKE)
    rows = df.collect()
    from lms_etl_pipeline_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()  # tail accounted for
    buckets = {r.bucket for r in rows}
    assert len(buckets - {"(other)"}) <= 3


# ------------------------------------------------- state machine audit


def test_state_machine_flags_match_allowlist(spark):
    from lms_etl_pipeline_spark.plans.business_analytics import _ALLOWED_TRANSITIONS

    rows = QUERIES["state_machine_audit"](spark, SF_SMOKE).collect()
    assert rows
    allowed = set(_ALLOWED_TRANSITIONS)
    for r in rows:
        assert r.is_violation == ((r.prev, r.curr) not in allowed)
        assert r.n > 0


# ------------------------------------------------- business days


def test_business_days_closed_form_matches_iteration(spark):
    import datetime as dt2

    from lms_etl_pipeline_spark.plans.business_analytics import _BD_EXTRA

    def iterate(a, g):
        return sum(
            1
            for i in range(1, g + 1)
            if (a + dt2.timedelta(days=i)).isoweekday() <= 5
        )

    base = dt2.date(2024, 1, 1)
    for start_off in range(14):
        for g in range(0, 30):
            a = base + dt2.timedelta(days=start_off)
            k = a.isoweekday()
            closed = (g // 7) * 5 + _BD_EXTRA[(k - 1) * 7 + (g % 7)]
            assert closed == iterate(a, g), (a, g)


def test_business_days_le_calendar_days(spark):
    rows = QUERIES["business_days_latency"](spark, SF_SMOKE).collect()
    lat = {r.o_orderpriority: r for r in rows}
    # compare against calendar-day percentiles over the SAME population
    # (gap >= 0 — the fixtures contain pre-order ship dates the business-
    # day query excludes)
    from lms_etl_pipeline_spark.sources.tables import load_table

    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    gap = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    cal = {
        r.o_orderpriority: r
        for r in (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select("o_orderpriority", gap.alias("gap"))
            .filter(F.col("gap") >= 0)
            .groupBy("o_orderpriority")
            .agg(F.expr("percentile(gap, 0.5)").alias("p50_days"))
        ).collect()
    }
    for pri, r in lat.items():
        assert r.p50_bdays <= cal[pri].p50_days  # weekends removed
        assert 0 <= r.n_sla_breach <= r.n


# ------------------------------------------------- shard manifest


def test_shard_manifest_partitions_corpus_and_hash_merges(spark):
    rows = QUERIES["export_shard_manifest"](spark, SF_SMOKE).collect()
    from lms_etl_pipeline_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    assert len(rows) <= 8
    # XOR-combine is order/partitioning independent: the hash of all
    # shards combined equals the corpus-wide combine
    import functools

    combined = functools.reduce(
        lambda a, b: a ^ b, (r.content_hash for r in rows)
    )
    h = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("bigint")
    whole = (
        d.select(h.alias("h")).agg(F.expr("bit_xor(h)")).collect()[0][0]
    )
    assert combined == whole


# ------------------------------------------------- LSH s-curve


def test_s_curve_monotone_and_matches_theory_shape(spark):
    rows = sorted(
        QUERIES["lsh_s_curve_calibration"](spark, SF_SMOKE).collect(),
        key=lambda r: r.bucket,
    )
    assert rows
    for r in rows:
        assert 0 <= r.n_candidates <= r.n_pairs
        assert 0.0 <= r.empirical_rate <= 1.0
        assert 0.0 <= r.theoretical_rate <= 1.0
    # theory is strictly increasing in jaccard; the empirical curve
    # should rise from the lowest to the highest observed bucket
    theory = [r.theoretical_rate for r in rows]
    assert theory == sorted(theory)
    if len(rows) >= 2 and rows[-1].bucket >= 5:
        assert rows[-1].empirical_rate >= rows[0].empirical_rate


# ------------------------------------------------- Wilson CI


def test_wilson_interval_contains_rate_and_is_proper(spark):
    r = QUERIES["wilson_conversion_ci"](spark, SF_SMOKE).collect()[0]
    assert 0 <= r.k <= r.n
    assert 0.0 <= r.ci_low <= r.rate <= r.ci_high <= 1.0
    # Wilson never collapses to a point for 0 < k < n
    if 0 < r.k < r.n:
        assert r.ci_high - r.ci_low > 0


# ------------------------------------------------- peak concurrency


def test_peak_concurrency_bounds(spark):
    rows = QUERIES["peak_concurrency_daily"](spark, SF_SMOKE).collect()
    assert rows
    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    n_users = e.select("user_id").distinct().count()
    for r in rows:
        # at least one session live at its own start; never more sessions
        # live than users (sessions of one user never overlap)
        assert 1 <= r.peak_concurrent_sessions <= n_users


def test_peak_concurrency_known_intervals(spark):
    import datetime as dt3

    # u1: 00:00-00:10, u2: 00:05-00:15, u3: 00:20-00:25 -> peak 2
    rows = []
    for u, (a, b) in enumerate([(0, 10), (5, 15), (20, 25)], start=1):
        rows.append((u, dt3.datetime(2024, 1, 1, 0, a)))
        rows.append((u, dt3.datetime(2024, 1, 1, 0, b)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    from pyspark.sql import Window as W3

    sess = df.groupBy("user_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    pts = sess.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionByName(
        sess.select(
            (F.col("e") + F.expr("INTERVAL 1 MICROSECOND")).alias("t"),
            F.lit(-1).alias("d"),
        )
    )
    live = pts.select(
        F.sum("d").over(W3.orderBy(F.col("t").asc(), F.col("d").desc())).alias("x")
    )
    assert live.agg(F.max("x")).collect()[0][0] == 2


# ------------------------------------------------- DiD (A/A placebo)


def test_did_placebo_near_zero_and_identity(spark):
    r = QUERIES["diff_in_differences"](spark, SF_SMOKE).collect()[0]
    assert r.n_t0 > 0 and r.n_t1 > 0 and r.n_c0 > 0 and r.n_c1 > 0
    assert abs(r.did_estimate - (r.treat_delta - r.control_delta)) < 1e-12
    # A/A placebo: both arms share the generator, so the DiD should be
    # small relative to the mean purchase value
    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    mu = (
        e.filter(F.col("event_type") == "purchase")
        .agg(F.avg("value"))
        .collect()[0][0]
    )
    assert abs(r.did_estimate) < mu  # loose placebo sanity bound


# ------------------------------------------------- Bayes smoothing


def test_bayes_shrinkage_ordering(spark):
    rows = QUERIES["bayes_smoothed_return_rate"](spark, SF_SMOKE).collect()
    assert rows
    prior = 2 / 10
    for r in rows:
        # posterior mean lies between the raw rate and the prior rate
        lo, hi = sorted((r.raw_rate, prior))
        assert lo - 1e-12 <= r.smoothed_rate <= hi + 1e-12
        # shrinkage weight decays with n: |smoothed-raw| <= 10/(n+10)
        assert abs(r.smoothed_rate - r.raw_rate) <= 10 / (r.n + 10) + 1e-12


# ------------------------------------------------- MinHash estimator error


def test_minhash_estimator_error_bounded_by_theory(spark):
    rows = QUERIES["minhash_estimator_error"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.mean_abs_err_floor9 <= 1.0
        # with k=8 slots the estimator std is at most sqrt(.25/8) ~ .177;
        # mean |err| can't plausibly exceed 3x that in any bucket
        assert r.mean_abs_err_floor9 < 0.55


# ------------------------------------------------- path entropy


def test_conditional_entropy_bounds(spark):
    import math

    rows = QUERIES["path_conditional_entropy"](spark, SF_SMOKE).collect()
    assert rows
    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    n_types = e.select("event_type").distinct().count()
    for r in rows:
        # 0 <= H <= log2(|types|)
        assert -1e-9 <= r.h_bits <= math.log2(n_types) + 1e-6
        assert r.n_transitions > 0


# ------------------------------------------------- term burstiness


def test_burstiness_at_least_one_and_cf_ge_df(spark):
    rows = QUERIES["term_burstiness"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.cf >= r.df >= 20
        assert r.burstiness >= 1.0  # each containing doc holds >= 1 copy


# ------------------------------------------------- jackknife SE


def test_jackknife_se_positive_and_scales(spark):
    rows = QUERIES["jackknife_se_daily_mean"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_days > 1
        assert r.jackknife_se >= 0
        # SE of a mean over n days is below the daily spread itself:
        # loose sanity vs the mean's magnitude
        assert r.jackknife_se < abs(r.mean_daily) + 1e-6


def test_jackknife_matches_numpy_reference(spark):
    import numpy as np

    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
             .cast("double").alias("x"))
        .collect()
    )
    by_type: dict[str, list[float]] = {}
    for r in daily:
        by_type.setdefault(r.event_type, []).append(r.x)
    got = {
        r.event_type: r.jackknife_se
        for r in QUERIES["jackknife_se_daily_mean"](spark, SF_SMOKE).collect()
    }
    for et, xs in by_type.items():
        if len(xs) < 2:
            continue
        a = np.array(xs)
        n = len(a)
        loo = (a.sum() - a) / (n - 1)
        ref = np.sqrt((n - 1) / n * ((loo - a.mean()) ** 2).sum())
        assert abs(got[et] - ref) < max(1e-6, ref * 1e-6)


# ------------------------------------------------- Mann-Whitney


def test_mann_whitney_aa_split_z_small_and_u_range(spark):
    r = QUERIES["mann_whitney_arms"](spark, SF_SMOKE).collect()[0]
    assert r.n1 > 0 and r.n0 > 0
    assert 0 <= r.u_stat <= r.n1 * r.n0  # U is bounded by n1*n2
    assert abs(r.z_approx) < 4.0  # A/A split: no real effect


# ------------------------------------------------- ANOVA


def test_anova_decomposition_and_scipy_free_reference(spark):
    r = QUERIES["anova_f_event_types"](spark, SF_SMOKE).collect()[0]
    assert r.k >= 2
    assert r.ss_between >= -1e-6 and r.ss_within > 0
    assert r.f_stat >= 0
    # reference: recompute F from raw values with numpy
    import numpy as np

    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    vals = e.select("event_type", "value").collect()
    groups: dict[str, list[float]] = {}
    for row in vals:
        groups.setdefault(row.event_type, []).append(row.value)
    arrs = [np.array(v) for v in groups.values()]
    all_v = np.concatenate(arrs)
    ssb = sum(len(a) * (a.mean() - all_v.mean()) ** 2 for a in arrs)
    ssw = sum(((a - a.mean()) ** 2).sum() for a in arrs)
    f_ref = (ssb / (len(arrs) - 1)) / (ssw / (len(all_v) - len(arrs)))
    assert abs(r.f_stat - f_ref) < max(1e-6, f_ref * 1e-6)


# ------------------------------------------------- stump split gain


def test_stump_gain_nonneg_at_best_and_zero_when_uninformative(spark):
    rows = QUERIES["stump_split_gain"](spark, SF_SMOKE).collect()
    assert rows
    best = max(r.gain for r in rows)
    assert best >= -1e-12  # the best split can never lose information
    for r in rows:
        assert 0 < r.n_left
        assert 0 <= r.pos_left <= r.n_left
    # uninformative-split reference: identical class mix left and right
    # yields gain exactly 0
    df = spark.createDataFrame(
        [(q, y) for q in (1, 2) for y in (0, 1)], "q long, y int"
    )
    tot = df.count()
    pos = df.agg(F.sum("y")).collect()[0][0]
    left = df.filter(F.col("q") <= 1)
    ln, lp = left.count(), left.agg(F.sum("y")).collect()[0][0]

    def gini(p):
        return 1 - p * p - (1 - p) * (1 - p)

    gain = (
        gini(pos / tot)
        - (ln / tot) * gini(lp / ln)
        - ((tot - ln) / tot) * gini((pos - lp) / (tot - ln))
    )
    assert abs(gain) < 1e-12


# ------------------------------------------------- weekday-hour heatmap


def test_heatmap_cells_and_share_accounting(spark):
    rows = QUERIES["weekday_hour_heatmap"](spark, SF_SMOKE).collect()
    assert rows
    from lms_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    assert sum(r.n_events for r in rows) == e.count()
    assert len(rows) <= 168
    total_share = sum(r.share for r in rows)
    # floored micro shares: the sum is <= 1 and within 168 floor steps
    assert 1 - 168e-6 <= total_share <= 1 + 1e-9
    for r in rows:
        assert 1 <= r.weekday <= 7 and 0 <= r.hour <= 23
