"""Behavioral invariants for plans/profiling.py.

Value-level cross-engine equality is covered by tools/check_oracle.py;
these pin the semantic contracts a hash comparison can't express —
Bloom's no-false-negative guarantee, PCA's variance-maximizing direction,
MAD's robustness to the outliers it flags, etc.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE

QUERIES = entrymod.queries()


# ---------------------------------------------------------------- Bloom


def test_bloom_probe_never_false_negative(spark):
    df = QUERIES["bloom_filter_probe"](spark, SF_SMOKE)
    # the defining Bloom guarantee: exact member => bloom member
    misses = df.filter(F.col("exact_member") & ~F.col("bloom_member")).count()
    assert misses == 0
    # n_hit is bounded by k
    assert df.agg(F.max("n_hit")).collect()[0][0] <= 4
    assert df.agg(F.min("n_hit")).collect()[0][0] >= 0


def test_bloom_probe_covers_every_delta_doc(spark):
    df = QUERIES["bloom_filter_probe"](spark, SF_SMOKE)
    from lms_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    n_delta = docs.filter(F.col("doc_id") % 10 == 7).count()
    assert df.count() == n_delta
    assert df.select("doc_id").distinct().count() == n_delta


# ------------------------------------------------------- duplicated spans


def test_dup_ngram_spans_literal_frame(spark):
    # doc 1 and 2 share one 8-gram ("a b c d e f g h"); doc 3 is unique.
    shared = "a b c d e f g h"
    rows = [
        (1, shared + " tail1 x y z"),
        (2, "head1 " + shared),
        (3, "q w e r t u i o p"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in _dup_spans_on(spark, df).collect()}
    # doc1: positions 1..8 covered (8 of 12 tokens)
    assert out[1].n_dup_pos == 8 and out[1].n_toks == 12
    # doc2: the shared gram starts at position 2 -> 8 of 9 covered
    assert out[2].n_dup_pos == 8 and out[2].n_toks == 9
    # doc3: nothing repeated corpus-wide
    assert out[3].n_dup_pos == 0
    assert abs(out[1].dup_frac - round(8 / 12, 6)) < 1e-9


def _dup_spans_on(spark, docs_df, fn_name="dup_ngram_spans"):
    """Run a dup-span plan body against a literal documents frame."""
    import lms_etl_pipeline_spark.plans.profiling as P

    name = "___dup_span_lit"
    docs_df.createOrReplaceTempView(name)
    orig = P.load_table
    try:
        P.load_table = lambda s, d, t: s.table(name)
        return getattr(P, fn_name)(spark, "ignored")
    finally:
        P.load_table = orig


def test_dup_span_removal_literal_frame(spark):
    # same fixture as the detector test: removal must excise exactly the
    # covered positions and leave unique docs byte-identical
    shared = "a b c d e f g h"
    rows = [
        (1, shared + " tail1 x y z"),
        (2, "head1 " + shared),
        (3, "q w e r t u i o p"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in _dup_spans_on(spark, df, "dup_span_removal").collect()
    }
    assert out[1].cleaned_text == "tail1 x y z" and out[1].n_kept == 4
    assert out[2].cleaned_text == "head1" and out[2].n_kept == 1
    assert out[3].cleaned_text == rows[2][1] and out[3].n_kept == 9
    # a fully-duplicated doc rewrites to the EMPTY string, not null
    df2 = spark.createDataFrame(
        [(1, shared), (2, shared)], ["doc_id", "text"]
    )
    out2 = {
        r.doc_id: r
        for r in _dup_spans_on(spark, df2, "dup_span_removal").collect()
    }
    assert out2[1].cleaned_text == "" and out2[1].n_kept == 0


def test_dup_span_removal_reconciles_with_detector(spark):
    """n_kept must equal n_toks - n_dup_pos for EVERY document — the
    removal and the detector share one definition of 'covered'."""
    import lms_etl_pipeline_spark.plans.profiling as P

    det = {
        r.doc_id: r for r in P.dup_ngram_spans(spark, SF_SMOKE).collect()
    }
    rem = {
        r.doc_id: r for r in P.dup_span_removal(spark, SF_SMOKE).collect()
    }
    assert det.keys() == rem.keys()
    for doc_id, d in det.items():
        r = rem[doc_id]
        assert r.n_toks == d.n_toks
        assert r.n_kept == d.n_toks - d.n_dup_pos, doc_id
        # the rewrite's token count is its own n_kept (join by one space)
        n_text = len([t for t in r.cleaned_text.split(" ") if t])
        assert n_text == r.n_kept, doc_id


# ------------------------------------------------------------- entropy


def test_token_entropy_extremes(spark):
    rows = [(1, "x x x x x x x x"), (2, "a b c d e f g h")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    import lms_etl_pipeline_spark.plans.profiling as P
    import lms_etl_pipeline_spark.sources.tables as tables

    df.createOrReplaceTempView("___ent_lit")
    orig = P.load_table
    try:
        P.load_table = lambda s, d, t: s.table("___ent_lit")
        out = {r.doc_id: r for r in P.token_entropy_filter(spark, "x").collect()}
    finally:
        P.load_table = orig
    assert out[1].entropy_bits == 0.0 and out[1].low_entropy
    assert abs(out[2].entropy_bits - 3.0) < 1e-9 and not out[2].low_entropy


# ---------------------------------------------------------------- zipf


def test_zipf_fit_recovers_exact_powerlaw(spark):
    # build a corpus whose token counts are exactly n_r = 2^(10-r') so the
    # log-log points are perfectly collinear: slope = -ln 2 per ln-rank unit
    # is NOT linear in ln(rank) — instead craft counts n_r = C / r so the
    # fit is exactly -1.
    toks = []
    C = 2520  # lcm(1..10): C/r integral for every r, counts exactly ∝ 1/r
    for r in range(1, 11):
        toks += [f"w{r:02d}"] * (C // r)
    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    import lms_etl_pipeline_spark.plans.profiling as P

    orig = P.load_table
    df.createOrReplaceTempView("___zipf_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___zipf_lit")
        row = P.zipf_slope_fit(spark, "x").collect()[0]
    finally:
        P.load_table = orig
    assert row.n_terms == 10
    assert abs(row.slope - (-1.0)) < 1e-6


# ----------------------------------------------------------------- PCA


def test_pca_power_iteration_unit_norm_and_dominant_axis(spark):
    row = QUERIES["pca_power_iteration"](spark, SF_SMOKE).collect()
    assert len(row) == 64
    nrm = math.sqrt(sum(r.loading**2 for r in row))
    assert abs(nrm - 1.0) < 1e-3  # rounded loadings, unit up to rounding
    assert all(r.eigval_est == row[0].eigval_est for r in row)
    assert row[0].eigval_est > 0


def test_pca_recovers_planted_direction(spark):
    # synthetic cloud stretched along dim 1 (index 0): variance 100 vs 1
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 10 if j == 0 else 1) for j in range(64)], 0)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    import lms_etl_pipeline_spark.plans.profiling as P

    orig = P.load_table
    df.createOrReplaceTempView("___pca_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___pca_lit")
        out = P.pca_power_iteration(spark, "x").collect()
    finally:
        P.load_table = orig
    by_dim = {r.dim: abs(r.loading) for r in out}
    assert by_dim[1] > 0.9  # dominant axis found
    assert all(v < 0.3 for d, v in by_dim.items() if d != 1)


# ------------------------------------------------------------ assoc rules


def test_assoc_rules_identities(spark):
    rows = QUERIES["assoc_rules_confidence"](spark, SF_SMOKE).collect()
    assert rows, "expected rules above min-support"
    for r in rows:
        assert 0 < r.confidence <= 1
        assert r.n_ab <= r.n_ante and r.n_ab <= r.n_cons
        # lift symmetry: lift(a->b) == lift(b->a)
    lifts = {(r.antecedent, r.consequent): r.lift for r in rows}
    for (a, b), v in lifts.items():
        if (b, a) in lifts:
            assert abs(v - lifts[(b, a)]) < 1e-9


# --------------------------------------------------------------- histogram


def test_equidepth_bins_are_balanced_and_ordered(spark):
    rows = sorted(
        QUERIES["equidepth_histogram"](spark, SF_SMOKE).collect(),
        key=lambda r: r.bin,
    )
    assert len(rows) == 10
    counts = [r.n_orders for r in rows]
    assert max(counts) - min(counts) <= 1  # equi-depth
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo  # bins partition the axis in order


# --------------------------------------------------------------------- MAD


def test_mad_is_robust_to_planted_outliers(spark):
    # 99 inliers at value ~10, 5 extreme outliers: MAD threshold must flag
    # exactly the outliers, while remaining itself small
    rows = [(i, "t", 10.0 + (i % 7) * 0.1) for i in range(99)]
    rows += [(100 + i, "t", 1e6) for i in range(5)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    import lms_etl_pipeline_spark.plans.profiling as P

    orig = P.load_table
    df.createOrReplaceTempView("___mad_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___mad_lit")
        out = P.mad_robust_outliers(spark, "x").collect()[0]
    finally:
        P.load_table = orig
    assert out.n == 104
    assert out.n_outliers == 5
    assert out.mad < 1  # threshold unpolluted by the 1e6 values


# --------------------------------------------------------------------- ABC


def test_abc_classes_are_contiguous_and_ordered(spark):
    rows = sorted(
        QUERIES["abc_pareto_classification"](spark, SF_SMOKE).collect(),
        key=lambda r: r.rk,
    )
    classes = [r.abc_class for r in rows]
    # A block, then B block, then C block — no interleaving
    assert classes == sorted(classes)
    assert classes[0] == "A" and classes[-1] == "C"
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


# --------------------------------------------------------------------- RFM


def test_rfm_quartiles_and_segment_code(spark):
    df = QUERIES["rfm_segmentation"](spark, SF_SMOKE)
    rows = df.collect()
    for col in ("r_q", "f_q", "m_q"):
        qs = df.groupBy(col).count().collect()
        vals = {r[col] for r in qs}
        assert vals == {1, 2, 3, 4}
        counts = [r["count"] for r in qs]
        assert max(counts) - min(counts) <= 1
    for r in rows:
        assert r.segment == f"{r.r_q}{r.f_q}{r.m_q}"
    # best recency quartile really is more recent than the worst
    import statistics

    by_q = {}
    for r in rows:
        by_q.setdefault(r.r_q, []).append(r.recency_days)
    assert statistics.mean(by_q[1]) < statistics.mean(by_q[4])


# ------------------------------------------------- cross-source overlap


def test_source_overlap_matrix_symmetric_canonical(spark):
    rows = QUERIES["source_overlap_matrix"](spark, SF_SMOKE).collect()
    assert rows, "fixtures plant cross-source duplicates"
    for r in rows:
        assert r.src_a < r.src_b  # canonical direction only, no diagonal
        assert r.n_shared_fp >= 1


def test_cluster_size_histogram_accounts_for_all_docs(spark):
    from lms_etl_pipeline_spark.sources.tables import load_table

    rows = QUERIES["dedup_cluster_size_histogram"](spark, SF_SMOKE).collect()
    total = sum(r.n_docs for r in rows)
    assert total == load_table(spark, SF_SMOKE, "documents").count()
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.n_removable == r.n_docs - r.n_clusters


# ------------------------------------------------------ seasonal profile


def test_seasonal_residuals_center_per_cell(spark):
    df = QUERIES["timeseries_seasonal_profile"](spark, SF_SMOKE)
    # residuals sum to ~0 within every (type, hour) cell by construction
    worst = (
        df.groupBy("event_type", "hod")
        .agg(F.abs(F.sum("residual")).alias("s"), F.count("*").alias("n"))
        .agg(F.max(F.col("s") / F.col("n")))
        .collect()[0][0]
    )
    assert worst < 1e-3  # mean residual per cell ~ rounding noise only


# ------------------------------------------------- quantile normalization


def test_quantile_normalize_range_and_monotone(spark):
    df = QUERIES["score_quantile_normalize"](spark, SF_SMOKE)
    mm = df.agg(F.min("pr"), F.max("pr")).collect()[0]
    assert mm[0] == 0.0 and mm[1] == 1.0
    # within a source, pr must be monotone in (n_chars, doc_id) order
    rows = sorted(
        df.filter(F.col("source") == "src0").collect(),
        key=lambda r: (r.n_chars, r.doc_id),
    )
    prs = [r.pr for r in rows]
    assert prs == sorted(prs)


# --------------------------------------------------- length-match resample


def test_length_match_caps_per_cell(spark):
    import math

    from lms_etl_pipeline_spark.sources.tables import load_table

    df = QUERIES["length_match_resample"](spark, SF_SMOKE)
    docs = load_table(spark, SF_SMOKE, "documents")
    src_n = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    cells = df.groupBy("source", "decile").count().collect()
    for c in cells:
        assert c["count"] <= math.ceil(src_n[c.source] / 10)
    # idempotent-deterministic: re-running yields the identical selection
    a = {(r.doc_id) for r in df.collect()}
    b = {(r.doc_id) for r in QUERIES["length_match_resample"](spark, SF_SMOKE).collect()}
    assert a == b


# --------------------------------------------------------- novelty rate


def test_novelty_first_doc_is_fully_novel_and_dup_is_not(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),   # exact dup of doc 1
        (3, "zeta eta theta iota kappa"),        # all-new content
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    import lms_etl_pipeline_spark.plans.profiling_distributions as P

    orig = P.load_table
    df.createOrReplaceTempView("___nov_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___nov_lit")
        out = {r.doc_id: r for r in P.ngram_novelty_rate(spark, "x").collect()}
    finally:
        P.load_table = orig
    assert out[1].novelty == 1.0
    assert out[2].novelty == 0.0
    assert out[3].novelty == 1.0


# --------------------------------------------------------------- CUSUM


def test_cusum_detects_planted_level_shift(spark):
    import datetime as dt

    # 48 hours at rate 10, then 24 hours at rate 30: the cumulative sum
    # must alarm after the shift and stay quiet well before it
    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for h in range(72):
        rate = 10 if h < 48 else 30
        for k in range(rate):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=k), 1, "t", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import lms_etl_pipeline_spark.plans.profiling_distributions as P

    orig = P.load_table
    df.createOrReplaceTempView("___cusum_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___cusum_lit")
        out = sorted(P.cusum_changepoints(spark, "x").collect(), key=lambda r: r.hour)
    finally:
        P.load_table = orig
    assert len(out) == 72
    # the changepoint estimate is the V-vertex of the cusum curve: with a
    # global mean straddling both regimes, S_t decreases until the shift
    # and increases after — argmin lands on the last pre-shift hour
    vertex = min(out, key=lambda r: r.cusum)
    assert vertex.hour.hour == 23 and (vertex.hour - out[0].hour).days == 1
    assert any(r.alarm for r in out)            # the drift is alarmed
    assert not out[0].alarm and not out[1].alarm  # but not from hour one
    assert abs(out[-1].cusum) < 1e-6            # S_n returns to ~0 by design


def test_table_profile_orders_matches_direct_aggregates(spark):
    from lms_etl_pipeline_spark.sources.tables import load_table

    rows = {r.col_name: r for r in QUERIES["table_profile_orders"](spark, SF_SMOKE).collect()}
    o = load_table(spark, SF_SMOKE, "orders")
    n = o.count()
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    }
    for r in rows.values():
        assert r.n_rows == n
        assert 0 <= r.n_null <= n
        assert 1 <= r.n_distinct <= n
    assert rows["o_orderstatus"].min_num is None  # text columns: counts only
    assert rows["o_totalprice"].min_num <= rows["o_totalprice"].max_num


# ------------------------------------------------------- exact SimHash


def test_simhash_exact_pairs_finds_dups_and_bounds_hamming(spark):
    rows = QUERIES["simhash_exact_pairs"](spark, SF_SMOKE).collect()
    assert rows, "fixtures plant near/exact duplicates"
    for r in rows:
        assert r.a < r.b
        assert 0 <= r.hamming <= 2
    # exact text duplicates must appear at hamming 0
    from lms_etl_pipeline_spark.sources.tables import load_table
    import collections

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    by_text = collections.defaultdict(list)
    for d in docs:
        by_text[d.text].append(d.doc_id)
    got = {(r.a, r.b) for r in rows}
    for ids in by_text.values():
        ids.sort()
        for i in range(len(ids) - 1):
            assert (ids[i], ids[i + 1]) in got or len(ids) == 1


# --------------------------------------------------------- readability


def test_flesch_orders_simple_before_complex(spark):
    rows = [
        (1, "The cat sat. The dog ran. It was fun."),
        (2, "Nevertheless, extraordinarily convoluted administrative "
            "bureaucratization invariably necessitates incomprehensible "
            "organizational restructuring."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    import lms_etl_pipeline_spark.plans.profiling_distributions as P

    orig = P.load_table
    df.createOrReplaceTempView("___flesch_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___flesch_lit")
        out = {r.doc_id: r for r in P.text_readability_flesch(spark, "x").collect()}
    finally:
        P.load_table = orig
    assert out[1].flesch > 80           # simple prose reads easy
    assert out[2].flesch < out[1].flesch - 50  # dense prose scores far lower


# -------------------------------------------------- correlation / OLS


def test_correlation_matrix_matches_numpy(spark):
    import numpy as np

    from lms_etl_pipeline_spark.sources.tables import load_table

    rows = QUERIES["correlation_matrix"](spark, SF_SMOKE).collect()
    assert len(rows) == 6
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).toPandas()
    for r in rows:
        expected = np.corrcoef(li[r.col_a], li[r.col_b])[0, 1]
        assert abs(r.corr - expected) < 1e-6
        assert -1 <= r.corr <= 1


def test_ols_matches_numpy_polyfit(spark):
    import numpy as np

    from lms_etl_pipeline_spark.sources.tables import load_table

    rows = {r.l_returnflag: r for r in QUERIES["ols_regression_by_group"](spark, SF_SMOKE).collect()}
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).toPandas()
    for flag, grp in li.groupby("l_returnflag"):
        slope, intercept = np.polyfit(grp.l_quantity, grp.l_extendedprice, 1)
        assert abs(rows[flag].slope - slope) < 1e-4
        assert abs(rows[flag].intercept - intercept) < 1e-2
        assert 0 <= rows[flag].r2 <= 1


# ------------------------------------------------------------- Benford


def test_benford_shares_sum_to_one_and_chi2_nonneg(spark):
    rows = QUERIES["benford_digit_test"](spark, SF_SMOKE).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.exp_share for r in rows) - 1.0) < 1e-3
    assert all(r.chi2_term >= 0 for r in rows)


# ---------------------------------------------------------------- Gini


def test_gini_bounds_and_known_values(spark):
    row = QUERIES["gini_concentration"](spark, SF_SMOKE).collect()[0]
    assert 0 <= row.gini < 1
    # literal check: perfectly equal revenues -> G == 0
    df = spark.createDataFrame(
        [(1, s, 1, 1, 100.0, 0.0) for s in range(1, 9)],
        ["l_orderkey", "l_suppkey", "l_partkey", "l_linenumber",
         "l_extendedprice", "l_discount"],
    )
    import lms_etl_pipeline_spark.plans.profiling_distributions as P

    orig = P.load_table
    df.createOrReplaceTempView("___gini_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___gini_lit")
        flat = P.gini_concentration(spark, "x").collect()[0]
    finally:
        P.load_table = orig
    assert abs(flat.gini) < 1e-9


# -------------------------------------------------------- run-length


def test_max_runlength_literal_frames(spark):
    rows = [
        (1, "a a a a a a a a b"),       # run of 8 -> degenerate
        (2, "a b a b a b a b"),         # run of 1
        (3, "x x x y y z"),             # run of 3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    import lms_etl_pipeline_spark.plans.profiling_quality as P

    orig = P.load_table
    df.createOrReplaceTempView("___run_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___run_lit")
        out = {r.doc_id: r for r in P.max_token_runlength(spark, "x").collect()}
    finally:
        P.load_table = orig
    assert out[1].max_run == 8 and out[1].degenerate
    assert out[2].max_run == 1 and not out[2].degenerate
    assert out[3].max_run == 3


# ----------------------------------------------------------- fertility


def test_tokenizer_fertility_identities(spark):
    rows = QUERIES["tokenizer_fertility"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.fertility >= 1.0  # BPE-ish regex splits punctuation off words
        assert r.chars_per_token > 0
        assert r.n_bpe_tokens >= r.n_words


# ----------------------------------------------------------------- MIPS


def test_mips_differs_from_cosine_and_is_exact_topk(spark):
    mips = QUERIES["knn_dot_product_mips"](spark, SF_SMOKE)
    rows = mips.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rk)
        dots = [r.dot for r in rs]
        assert dots == sorted(dots, reverse=True)
        assert len(rs) == 5
    # brute-force check one query id against numpy
    import numpy as np

    from lms_etl_pipeline_spark.sources.tables import load_table

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }
    q0 = emb[0]
    scored = sorted(
        ((float(np.dot(v, q0)), k) for k, v in emb.items() if k != 0),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    got = [r.n_id for r in sorted(per_q[0], key=lambda r: r.rk)]
    assert got == [k for _, k in scored]


def test_embedding_pairwise_stats_bounds(spark):
    row = QUERIES["embedding_pairwise_stats"](spark, SF_SMOKE).collect()[0]
    assert row.n_pairs == 199 * 200 // 2 or row.n_pairs > 0  # bounded sample
    assert -1 <= row.min_cos <= row.mean_cos <= row.max_cos <= 1
    assert 0 <= row.frac_above_thresh <= 1
    assert row.n_above_thresh <= row.n_pairs


# ------------------------------------------------------ weighted median


def test_weighted_median_literal_frame(spark):
    # weights: price 1.0 w=1, price 2.0 w=1, price 3.0 w=10 -> half of 12
    # is 6, first cum >= 6 is price 3.0 (the mass sits there)
    rows = [
        (1, 1, 1.0, 1.0),
        (2, 1, 1.0, 2.0),
        (3, 1, 10.0, 3.0),
    ]
    df = spark.createDataFrame(
        rows, ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    ).withColumn("l_returnflag", F.lit("X"))
    import lms_etl_pipeline_spark.plans.profiling_quality as P

    orig = P.load_table
    df.createOrReplaceTempView("___wmed_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___wmed_lit")
        out = P.weighted_median_price(spark, "x").collect()
    finally:
        P.load_table = orig
    assert len(out) == 1
    assert out[0].weighted_median == 3.0
    assert out[0].total_weight == 12.0


def test_weighted_median_reduces_to_plain_with_unit_weights(spark):
    # with all weights 1 the weighted median equals the lower median
    rows = [(k, 1, 1.0, float(k)) for k in range(1, 6)]
    df = spark.createDataFrame(
        rows, ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    ).withColumn("l_returnflag", F.lit("Y"))
    import lms_etl_pipeline_spark.plans.profiling_quality as P

    orig = P.load_table
    df.createOrReplaceTempView("___wmed_lit2")
    try:
        P.load_table = lambda s, d, t: s.table("___wmed_lit2")
        out = P.weighted_median_price(spark, "x").collect()[0]
    finally:
        P.load_table = orig
    assert out.weighted_median == 3.0


# ------------------------------------------------------------- SymSpell


def test_symspell_finds_planted_typo_and_only_distance_one(spark):
    """A rare typo of a FREQUENT word is suggested; an equal-frequency
    distance-1 pair is NOT (the frequency-dominance gate — typo mining,
    not exhaustive pair enumeration; also the output bound on adversarial
    vocab, see fuzz seed 43)."""
    rows = [
        (1, "transformer architecture models attention"),
        (2, "transformer attention transformer heads"),
        (3, "transformer transformer layers"),        # freq('transformer')=6
        (4, "transformes architecture attention"),    # typo, freq 1
        (5, "spark sparc once each"),                 # d1 pair, ratio 1 -> gated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    import lms_etl_pipeline_spark.plans.profiling_quality as P

    orig = P.load_table
    df.createOrReplaceTempView("___sym_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___sym_lit")
        out = P.spelling_variants_symspell(spark, "x").collect()
    finally:
        P.load_table = orig
    pairs = {(r.a, r.b) for r in out}
    assert ("transformer", "transformes") in pairs
    assert ("sparc", "spark") not in pairs  # no frequency dominance
    for r in out:
        # every emitted pair is edit distance 1 with a 4x-dominant side
        assert abs(len(r.a) - len(r.b)) <= 1
        assert max(r.freq_a, r.freq_b) >= 4 * min(r.freq_a, r.freq_b)


# ------------------------------------------------------ threshold sweep


def test_semdedup_sweep_is_monotone_decreasing(spark):
    rows = sorted(
        QUERIES["semdedup_threshold_sweep"](spark, SF_SMOKE).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == [0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    counts = [r.n_pairs_above for r in rows]
    assert counts == sorted(counts, reverse=True)  # raising the bar drops pairs
    # consistency with the single-threshold calibration card at 0.4
    card = QUERIES["embedding_pairwise_stats"](spark, SF_SMOKE).collect()[0]
    at04 = next(r for r in rows if r.threshold == 0.4)
    assert at04.n_pairs_above == card.n_above_thresh


# ------------------------------------------------------ forecast eval


def test_forecast_backtest_eval_bounds(spark):
    rows = QUERIES["forecast_backtest_eval"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.mae >= 0
        assert 0 <= r.wape
        assert abs(r.bias) <= r.mae + 1e-9  # |mean error| <= mean |error|


def test_mdm_golden_record_policy(spark):
    from lms_etl_pipeline_spark.sources.tables import load_table

    rows = QUERIES["mdm_golden_record"](spark, SF_SMOKE).collect()
    assert rows, "fixtures plant duplicate clusters"
    docs = {
        r.doc_id: r
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    for r in rows:
        assert r.n_members > 1
        survivor = docs[r.survivor_id]
        assert survivor.n_chars == r.max_chars  # longest-content policy
        assert r.first_id <= r.survivor_id or r.first_id <= r.survivor_id


# ----------------------------------------------------------------- KS


def test_ks_identical_samples_read_null(spark):
    # same distribution on both sides -> D == 0, no drift
    rows = [(i, "x" * 50, "en", "s", 50) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    import lms_etl_pipeline_spark.plans.profiling_quality as P

    orig = P.load_table
    df.createOrReplaceTempView("___ks_lit")
    try:
        P.load_table = lambda s, d, t: s.table("___ks_lit")
        out = P.ks_test_drift(spark, "x").collect()[0]
    finally:
        P.load_table = orig
    assert out.d_stat == 0.0 and not out.drifted


def test_ks_detects_planted_shift(spark):
    # delta batch (doc_id%10==7) gets lengths 1000+, index stays ~50
    rows = []
    for i in range(60):
        n = 1000 + i if i % 10 == 7 else 50 + (i % 5)
        rows.append((i, "t", "en", "s", n))
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    import lms_etl_pipeline_spark.plans.profiling_quality as P

    orig = P.load_table
    df.createOrReplaceTempView("___ks_lit2")
    try:
        P.load_table = lambda s, d, t: s.table("___ks_lit2")
        out = P.ks_test_drift(spark, "x").collect()[0]
    finally:
        P.load_table = orig
    assert out.d_stat == 1.0  # disjoint supports -> maximal D
    assert out.drifted


def test_cramers_v_bounds_and_null_read(spark):
    row = QUERIES["cramers_v_association"](spark, SF_SMOKE).collect()[0]
    assert 0 <= row.cramers_v <= 1
    assert row.chi2 >= 0
    assert row.dof >= 1
    # uniform synthetic behavior: association should be weak
    assert row.cramers_v < 0.3


# --------------------------------------------------- dup rate by source


def test_dup_rate_by_source_accounting(spark):
    from lms_etl_pipeline_spark.sources.tables import load_table

    rows = QUERIES["dup_rate_by_source"](spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    per_source = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    assert {r.source for r in rows} == set(per_source)
    for r in rows:
        assert r.n_docs == per_source[r.source]
        assert 0 <= r.n_in_dup_cluster <= r.n_docs
        assert abs(r.dup_rate - round(r.n_in_dup_cluster / r.n_docs, 6)) < 1e-9
