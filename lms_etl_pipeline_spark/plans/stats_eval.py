"""Statistical-testing and experiment-evaluation plans (split from the
sequence plans).

LLR collocations, systematic stratified sampling, A/B sample-size
planning, quantile treatment effects, Wilson intervals, difference-in-
differences, Bayesian-smoothed rates, conditional path entropy, term
burstiness, Mann-Whitney U, one-way ANOVA, and decision-stump split-gain
screening — the experiment-readout layer a production analytics platform
runs beside its dashboards.

Determinism: z-constants and prior parameters are injected as IDENTICAL
Python double literals into both engines; rank statistics use total
orders with deterministic tiebreaks; moment sums are exact DECIMAL.
Numeric discipline as in plans/timeseries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators.rank import (
    global_running_agg,
    with_uniform_key_buckets,
)
from lms_etl_pipeline_spark.plans.behavior import AB_ARM_SQL, ab_arm
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Dunning log-likelihood-ratio collocations
# --------------------------------------------------------------------------

_LLR_MIN_PAIR = 8


@query(
    "llr_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tx.tokens_sql()} AS t FROM documents),
    bg AS (SELECT UNNEST({tx.ngrams_sql("t", 2)}) AS bigram FROM toks),
    pc AS MATERIALIZED (SELECT bigram, COUNT(*) AS k11 FROM bg GROUP BY 1),
    parts AS MATERIALIZED (
      -- MATERIALIZED: parts is referenced by r,
      -- c, AND the cells join; DuckDB's default CTE inlining re-expands
      -- the whole tokenize/UNNEST pipeline per reference and the join
      -- over the inlined trees went pathological on a 112k-unique-bigram
      -- fixture (>550 s -> 2 s materialized; values identical)
      SELECT bigram, k11,
             SPLIT_PART(bigram, ' ', 1) AS w1,
             SUBSTRING(bigram, LENGTH(SPLIT_PART(bigram, ' ', 1)) + 2) AS w2
      FROM pc),
    r AS (SELECT w1, SUM(k11) AS rsum FROM parts GROUP BY 1),
    c AS (SELECT w2, SUM(k11) AS csum FROM parts GROUP BY 1),
    n AS (SELECT SUM(k11) AS total FROM pc),
    cells AS (
      SELECT p.bigram, p.k11,
             CAST(p.k11 AS DOUBLE) AS o11,
             CAST(r.rsum - p.k11 AS DOUBLE) AS o12,
             CAST(c.csum - p.k11 AS DOUBLE) AS o21,
             CAST(n.total - r.rsum - c.csum + p.k11 AS DOUBLE) AS o22,
             CAST(r.rsum AS DOUBLE) AS rs,
             CAST(c.csum AS DOUBLE) AS cs,
             CAST(n.total AS DOUBLE) AS nt
      FROM parts p CROSS JOIN n JOIN r ON r.w1 = p.w1 JOIN c ON c.w2 = p.w2
      WHERE p.k11 >= {_LLR_MIN_PAIR})
    SELECT bigram, CAST(k11 AS BIGINT) AS k11,
           CAST(ROUND(2 * (
             CAST(CASE WHEN o11 > 0 THEN ROUND(o11 * LN(o11 * nt / (rs * cs)), 6) ELSE 0 END AS DECIMAL(18,6))
           + CAST(CASE WHEN o12 > 0 THEN ROUND(o12 * LN(o12 * nt / (rs * (nt - cs))), 6) ELSE 0 END AS DECIMAL(18,6))
           + CAST(CASE WHEN o21 > 0 THEN ROUND(o21 * LN(o21 * nt / ((nt - rs) * cs)), 6) ELSE 0 END AS DECIMAL(18,6))
           + CAST(CASE WHEN o22 > 0 THEN ROUND(o22 * LN(o22 * nt / ((nt - rs) * (nt - cs))), 6) ELSE 0 END AS DECIMAL(18,6))
             ), 4) AS DOUBLE) AS llr
    FROM cells
    """,
)
def llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning (1993) log-likelihood-ratio collocation mining over corpus
    bigrams — the statistically-sound replacement for raw PMI on sparse
    counts (``cooccurrence_pmi``'s known failure mode), used to harvest
    multi-word expressions for tokenizer vocab and quality lexicons.

    G2 = 2 * sum O_ij * ln(O_ij / E_ij) over the 2x2 (w1, w2) contingency
    table.  Bigrams come from a shuffle-free per-row array transform (no
    position self-join); marginals are two hash aggregates over the bigram
    counts, joined back by word.  Determinism: counts are exact ints, each
    of the four LN terms is rounded at 1e-6 then DECIMAL-summed
    (order-independent), one final rounded double.

    Scale: |bigram-vocab|-sized tables after the first aggregate; the
    corpus is scanned once.  The w1/w2 marginal joins are equi-joins on
    word — the same layout as the TF-IDF family.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tx.tokens("text").alias("t"))
    bigrams = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> concat(t[i-1], ' ', t[i]))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    pc = bigrams.groupBy("bigram").agg(F.count("*").alias("k11"))
    parts = pc.select(
        "bigram",
        "k11",
        F.substring_index("bigram", " ", 1).alias("w1"),
        F.expr(
            "substring(bigram, length(substring_index(bigram, ' ', 1)) + 2)"
        ).alias("w2"),
    )
    r = parts.groupBy("w1").agg(F.sum("k11").alias("rsum"))
    c = parts.groupBy("w2").agg(F.sum("k11").alias("csum"))
    n = pc.agg(F.sum("k11").alias("total"))
    cells = (
        parts.filter(F.col("k11") >= _LLR_MIN_PAIR)
        .join(r, "w1")
        .join(c, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "bigram",
            "k11",
            F.col("k11").cast("double").alias("o11"),
            (F.col("rsum") - F.col("k11")).cast("double").alias("o12"),
            (F.col("csum") - F.col("k11")).cast("double").alias("o21"),
            (F.col("total") - F.col("rsum") - F.col("csum") + F.col("k11"))
            .cast("double")
            .alias("o22"),
            F.col("rsum").cast("double").alias("rs"),
            F.col("csum").cast("double").alias("cs"),
            F.col("total").cast("double").alias("nt"),
        )
    )

    def term(o, e_num, e_den):
        return F.when(
            o > 0, F.round(o * F.log(o * F.col("nt") / (e_num * e_den)), 6)
        ).otherwise(F.lit(0.0)).cast("decimal(18,6)")

    rs, cs, nt = F.col("rs"), F.col("cs"), F.col("nt")
    g2 = (
        term(F.col("o11"), rs, cs)
        + term(F.col("o12"), rs, (nt - cs))
        + term(F.col("o21"), (nt - rs), cs)
        + term(F.col("o22"), (nt - rs), (nt - cs))
    )
    return cells.select(
        "bigram",
        F.col("k11").cast("bigint").alias("k11"),
        F.round(F.lit(2) * g2, 4).cast("double").alias("llr"),
    )

# --------------------------------------------------------------------------
# Systematic (every-k-th) stratified sampling
# --------------------------------------------------------------------------


@query(
    "systematic_sample_stratified",
    oracle="""
    WITH ordered AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY MD5(CAST(doc_id AS VARCHAR)) ASC,
                                         doc_id ASC) AS rn
      FROM documents)
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM ordered WHERE rn % 10 = 1
    """,
)
def systematic_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic 1-in-10 sampling per source stratum: order each stratum
    by a content-free stable hash (md5 of the key — a deterministic
    pseudo-random permutation, the repo's no-rand() discipline) and keep
    every 10th row — the evenly-spaced design survey methodology prefers
    over Bernoulli sampling for variance, made retry-safe and
    engine-portable.

    Scale: the window partitions by stratum; a skewed mega-stratum would
    serialize, so the documented scale path is the two-level variant
    (per-shard systematic pass, then thin) or hash-bucket approximation
    (``sample_fraction``).  Exact: rank arithmetic on a deterministic
    order; no floats at all.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") % 10 == 1)
        .select("doc_id", "source", F.col("rn").cast("bigint").alias("rn"))
    )

# --------------------------------------------------------------------------
# A/B sample-size planning
# --------------------------------------------------------------------------

#: Two-sided alpha=0.05 and power=0.80 normal quantiles, injected as the
#: SAME Python double literals into both engines (no cross-libm erf).
_Z_ALPHA = 1.959963984540054
_Z_BETA = 0.8416212335729143
#: (z_a + z_b)^2 * 2, folded to ONE literal so no cross-engine
#: decimal-vs-double addition order can differ.
_SS_K = (_Z_ALPHA + _Z_BETA) ** 2 * 2
_MDE_FRAC = 0.05


@query(
    "ab_sample_size_planning",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s1,
             SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
               AS s2
      FROM events GROUP BY 1),
    stats AS (
      SELECT event_type, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
               / (n - 1) AS var
      FROM m WHERE n > 1)
    SELECT event_type,
           ROUND(mu, 6) AS baseline_mean,
           ROUND(var, 6) AS variance,
           ROUND({_MDE_FRAC!r} * mu, 6) AS mde,
           CAST(CEIL({_SS_K!r} * var
                     / (({_MDE_FRAC!r} * mu) * ({_MDE_FRAC!r} * mu)))
                AS BIGINT) AS n_per_arm
    FROM stats WHERE mu > 0
    """,
)
def ab_sample_size_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test sample-size planner: per event type, the users-per-arm
    needed to detect a {_MDE_FRAC:.0%} lift in mean value at two-sided
    alpha=0.05 with 80% power — n = (z_a + z_b)^2 * 2*sigma^2 / delta^2 —
    the experiment-design front end to ``ab_test_lift_report``'s readout.

    The normal quantiles are injected as IDENTICAL double literals into
    both engines (no cross-libm inverse-erf); mean and variance come from
    exact decimal moments, so every derived double is the same bits on
    both sides and CEIL can't straddle.

    Scale: one map-side-combining moment aggregate keyed by type; the
    report is |types| rows.
    """
    e = load_table(spark, sf_dir, "events")
    d6 = F.col("value").cast("decimal(18,6)")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(d6).alias("s1"),
        F.sum(d6 * d6).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    mde = F.lit(_MDE_FRAC) * mu
    return (
        m.filter(F.col("n") > 1)
        .select(
            "event_type",
            F.round(mu, 6).alias("baseline_mean"),
            F.round(var, 6).alias("variance"),
            F.round(mde, 6).alias("mde"),
            F.ceil(F.lit(_SS_K) * var / (mde * mde))
            .cast("bigint")
            .alias("n_per_arm"),
            mu.alias("_mu"),
        )
        .filter(F.col("_mu") > 0)
        .drop("_mu")
    )

# --------------------------------------------------------------------------
# Quantile treatment effects (A/B)
# --------------------------------------------------------------------------


@query(
    "ab_quantile_treatment_effect",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             {AB_ARM_SQL} AS arm,
             SUM(CAST(value AS DECIMAL(18,6))) AS spend
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1),
    fp AS (SELECT arm, CAST(spend * 1000000 AS HUGEINT) AS s_fp FROM assign),
    q AS (
      SELECT arm,
             MEDIAN(s_fp) AS p50,
             QUANTILE_CONT(s_fp, 0.25) AS p25,
             QUANTILE_CONT(s_fp, 0.75) AS p75
      FROM fp GROUP BY arm)
    SELECT a.p25 / 1000000.0 - b.p25 / 1000000.0 AS qte_p25,
           a.p50 / 1000000.0 - b.p50 / 1000000.0 AS qte_p50,
           a.p75 / 1000000.0 - b.p75 / 1000000.0 AS qte_p75,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM assign WHERE arm = 1)
             AS n_treat,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM assign WHERE arm = 0)
             AS n_control
    FROM (SELECT * FROM q WHERE arm = 1) a, (SELECT * FROM q WHERE arm = 0) b
    """,
)
def ab_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects for the hash-assigned A/B split: the
    p25/p50/p75 spend difference between arms — the DISTRIBUTIONAL
    experiment readout (did the treatment move the median user or only
    the tail?) that mean-lift reports (`ab_test_lift_report`, same
    salted-md5 assignment) cannot see.

    Numerics: per-user spend is an exact decimal scaled to integer fixed
    point before the quantiles, so quantile interpolation runs on exact
    integers (identical in both engines); each QTE is a difference of two
    such quantiles scaled back by a pure power-of-ten double division —
    no ROUND call.  A/A split here, so all QTEs ≈ 0 (pinned).

    Scale: user-keyed aggregate + per-arm exact quantiles (two groups);
    approx_percentile at fleet scale.
    """
    e = load_table(spark, sf_dir, "events")
    assign = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("spend"))
        .select(
            ab_arm().alias("arm"),
            (F.col("spend") * 1_000_000).cast("decimal(38,0)").alias("s_fp"),
        )
    )
    q = assign.groupBy("arm").agg(
        F.expr("percentile(s_fp, 0.25)").alias("p25"),
        F.expr("percentile(s_fp, 0.5)").alias("p50"),
        F.expr("percentile(s_fp, 0.75)").alias("p75"),
        F.count("*").alias("n"),
    )
    a = q.filter(F.col("arm") == 1).select(
        F.col("p25").alias("a25"), F.col("p50").alias("a50"),
        F.col("p75").alias("a75"), F.col("n").alias("n_treat"),
    )
    b = q.filter(F.col("arm") == 0).select(
        F.col("p25").alias("b25"), F.col("p50").alias("b50"),
        F.col("p75").alias("b75"), F.col("n").alias("n_control"),
    )
    return a.crossJoin(b).select(
        (F.col("a25") / 1_000_000.0 - F.col("b25") / 1_000_000.0).alias("qte_p25"),
        (F.col("a50") / 1_000_000.0 - F.col("b50") / 1_000_000.0).alias("qte_p50"),
        (F.col("a75") / 1_000_000.0 - F.col("b75") / 1_000_000.0).alias("qte_p75"),
        F.col("n_treat").cast("bigint").alias("n_treat"),
        F.col("n_control").cast("bigint").alias("n_control"),
    )

# --------------------------------------------------------------------------
# Wilson confidence intervals for conversion rates
# --------------------------------------------------------------------------

#: z for a 95% two-sided interval — ONE injected literal (no cross-libm
#: inverse-erf), and its square, folded in Python like _SS_K.
_WILSON_Z = 1.959963984540054
_WILSON_Z2 = _WILSON_Z * _WILSON_Z
# Oracle-side literal forms.  A bare numeric literal in DuckDB parses via
# DECIMAL and double-rounds (measured: 3.8414588206941254 -> ...26, 1 ulp
# off), which surfaces wherever an un-ROUNDed float output depends on the
# constant (found by the n=1 fixture sweep at k=0).  CAST('<repr>' AS
# DOUBLE) parses the string straight to the exact same double Python/Spark
# hold; pinned by tests/test_numeric_conventions.py.
_WZ_SQL = f"CAST('{_WILSON_Z!r}' AS DOUBLE)"
_WZ2_SQL = f"CAST('{_WILSON_Z2!r}' AS DOUBLE)"


@query(
    "wilson_conversion_ci",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY 1),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS k
      FROM per_user)
    , raw AS (
    SELECT n, k,
           CAST(k AS DOUBLE) / n AS rate,
           (CAST(k AS DOUBLE) / n + {_WZ2_SQL} / (2 * n)
            - {_WZ_SQL} * SQRT(
                (CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n) / n
                + {_WZ2_SQL} / (4.0 * n * n)))
             / (1 + {_WZ2_SQL} / n) AS ci_low_raw,
           (CAST(k AS DOUBLE) / n + {_WZ2_SQL} / (2 * n)
            + {_WZ_SQL} * SQRT(
                (CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n) / n
                + {_WZ2_SQL} / (4.0 * n * n)))
             / (1 + {_WZ2_SQL} / n) AS ci_high_raw
    FROM agg)
    SELECT n, k, rate,
           GREATEST(ci_low_raw, CAST(0 AS DOUBLE)) AS ci_low,
           LEAST(ci_high_raw, CAST(1 AS DOUBLE)) AS ci_high
    FROM raw
    """,
)
def wilson_conversion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level purchase-conversion rate with its Wilson 95% interval —
    the binomial CI dashboards should quote instead of the Wald interval
    (Wilson stays inside [0,1] and behaves at small n / extreme rates);
    the uncertainty companion to ``funnel_conversion``'s point rates and
    ``ab_test_lift_report``'s comparisons.

    Determinism: n and k are exact integers; z and z² are injected
    literals (z² folded in Python so no decimal-vs-double addition
    differs); every emitted double is the same closed-form expression of
    identical inputs on both engines — emitted RAW, no rounding call.

    Scale: one user-keyed aggregate (map-side combinable) + a 1-row
    reduction.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    agg = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("k"),
    )
    # try_divide throughout: a global aggregate over ZERO rows (a filter
    # that matched nothing) yields n=0, and plain division would ANSI-abort
    # the whole job instead of returning the NULL row DuckDB returns
    # (pinned by tests/test_empty_fixture.py).
    n = F.col("n")
    p = F.try_divide(F.col("k").cast("double"), n)
    half = F.lit(_WILSON_Z) * F.sqrt(
        F.try_divide(p * (F.lit(1) - p), n)
        + F.try_divide(F.lit(_WILSON_Z2), F.lit(4.0) * n * n)
    )
    center = p + F.try_divide(F.lit(_WILSON_Z2), F.lit(2) * n)
    denom = F.lit(1) + F.try_divide(F.lit(_WILSON_Z2), n)
    # clamp: the closed form can overshoot [0,1] by an ulp at k=0 / k=n
    return agg.select(
        "n",
        "k",
        p.alias("rate"),
        F.greatest((center - half) / denom, F.lit(0.0)).alias("ci_low"),
        F.least((center + half) / denom, F.lit(1.0)).alias("ci_high"),
    )

# --------------------------------------------------------------------------
# Difference-in-differences readout
# --------------------------------------------------------------------------


@query(
    "diff_in_differences",
    oracle=f"""
    WITH mid AS (
      SELECT MIN(CAST(ts AS DATE)) + CAST(FLOOR(
               DATEDIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
               / 2) AS INTEGER) AS m
      FROM events),
    cell AS (
      SELECT {AB_ARM_SQL} AS arm,
             CAST(CAST(e.ts AS DATE) >= mid.m AS INTEGER) AS period,
             CAST(e.value AS DECIMAL(18,6)) AS v
      FROM events e CROSS JOIN mid
      WHERE e.event_type = 'purchase'),
    m AS (
      SELECT arm, period,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mu
      FROM cell GROUP BY 1, 2)
    SELECT t1.mu - t0.mu AS treat_delta,
           c1.mu - c0.mu AS control_delta,
           (t1.mu - t0.mu) - (c1.mu - c0.mu) AS did_estimate,
           t0.n AS n_t0, t1.n AS n_t1, c0.n AS n_c0, c1.n AS n_c1
    FROM (SELECT * FROM m WHERE arm = 1 AND period = 0) t0,
         (SELECT * FROM m WHERE arm = 1 AND period = 1) t1,
         (SELECT * FROM m WHERE arm = 0 AND period = 0) c0,
         (SELECT * FROM m WHERE arm = 0 AND period = 1) c1
    """,
)
def diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: mean purchase value change from the
    first to the second calendar half, treatment arm minus control arm
    (salted-md5 assignment, `ab_test_lift_report`'s split) — the
    quasi-experimental estimator used when randomization happens at
    rollout time and both groups share a trend; on this A/A split the
    estimate ≈ 0 (pinned), exactly what a placebo DiD should read.

    Determinism: cell means are decimal sums cast to double then ONE
    division (the `embedding_centroids` idiom); the estimate is raw
    arithmetic of identical doubles — no round call.  The period split
    derives from the data (calendar midpoint) as a 1-row broadcast.

    Scale: one scan into a 4-cell aggregate; everything downstream is
    4 rows.
    """
    e = load_table(spark, sf_dir, "events")
    mid = e.agg(
        F.date_add(
            F.min(F.to_date("ts")),
            F.floor(
                F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) / 2
            ).cast("int"),
        ).alias("m")
    )
    cell = (
        e.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mid))
        .select(
            ab_arm().alias("arm"),
            (F.to_date("ts") >= F.col("m")).cast("int").alias("period"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
    )
    m = cell.groupBy("arm", "period").agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("v").cast("double") / F.count("*")).alias("mu"),
    )

    def slot(a, p, tag):
        return m.filter((F.col("arm") == a) & (F.col("period") == p)).select(
            F.col("mu").alias(f"mu_{tag}"), F.col("n").alias(f"n_{tag}")
        )

    j = (
        slot(1, 0, "t0")
        .crossJoin(slot(1, 1, "t1"))
        .crossJoin(slot(0, 0, "c0"))
        .crossJoin(slot(0, 1, "c1"))
    )
    return j.select(
        (F.col("mu_t1") - F.col("mu_t0")).alias("treat_delta"),
        (F.col("mu_c1") - F.col("mu_c0")).alias("control_delta"),
        (
            (F.col("mu_t1") - F.col("mu_t0"))
            - (F.col("mu_c1") - F.col("mu_c0"))
        ).alias("did_estimate"),
        F.col("n_t0").alias("n_t0"),
        F.col("n_t1").alias("n_t1"),
        F.col("n_c0").alias("n_c0"),
        F.col("n_c1").alias("n_c1"),
    )

# --------------------------------------------------------------------------
# Bayesian-smoothed rates (Beta prior shrinkage)
# --------------------------------------------------------------------------

#: Beta(2, 8) prior — a 20% pseudo-rate over 10 pseudo-observations,
#: injected as integer literals (exact in every numeric system).
_BETA_A = 2
_BETA_B = 8


@query(
    "bayes_smoothed_return_rate",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem GROUP BY 1)
    SELECT l_partkey, n, k,
           CAST(k AS DOUBLE) / n AS raw_rate,
           CAST(k + {_BETA_A} AS DOUBLE) / (n + {_BETA_A + _BETA_B})
             AS smoothed_rate
    FROM per_part
    """,
)
def bayes_smoothed_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part return rate with Beta({_BETA_A}, {_BETA_B}) posterior-mean
    smoothing — the empirical-Bayes shrinkage every ranking-by-rate
    system applies so a 1-of-1 return doesn't outrank 20-of-100
    (smoothed CTR, review scores, defect rates).  Low-n parts shrink
    toward the prior rate {_BETA_A / (_BETA_A + _BETA_B):.0%}; high-n
    parts keep their data (shrinkage-ordering pinned in tests).

    Determinism: counts exact; both rates are ONE double division of
    exact integers (prior folded as integer literals), emitted raw.

    Scale: one map-side-combining aggregate keyed by part.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    return per_part.select(
        "l_partkey",
        "n",
        "k",
        (F.col("k").cast("double") / F.col("n")).alias("raw_rate"),
        (
            (F.col("k") + F.lit(_BETA_A)).cast("double")
            / (F.col("n") + F.lit(_BETA_A + _BETA_B))
        ).alias("smoothed_rate"),
    )

# --------------------------------------------------------------------------
# Conditional path entropy (next-event predictability)
# --------------------------------------------------------------------------


@query(
    "path_conditional_entropy",
    oracle="""
    WITH seq AS (
      SELECT LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev,
             event_type AS curr
      FROM events),
    c AS (
      SELECT prev, curr, COUNT(*) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
    r AS (SELECT prev, SUM(n) AS rn FROM c GROUP BY 1)
    SELECT c.prev,
           CAST(r.rn AS BIGINT) AS n_transitions,
           CAST(SUM(CAST(ROUND(
             -(CAST(c.n AS DOUBLE) / r.rn)
               * LN(CAST(c.n AS DOUBLE) / r.rn) / LN(2), 9)
             AS DECIMAL(18,9))) AS DOUBLE) AS h_bits
    FROM c JOIN r ON r.prev = c.prev
    GROUP BY c.prev, r.rn
    """,
)
def path_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy H(next | prev) in bits per prior
    state — the predictability read on user journeys (low entropy after
    'click' = a deterministic funnel; high = exploratory behavior) that
    turns ``event_transition_matrix``'s probabilities into ONE comparable
    number per state, the same way ``token_entropy_filter`` scores
    documents.

    Determinism: transition counts are exact; each -p·log2(p) term is one
    double expression of identical integers (log2 via LN/LN(2) on both
    engines), rounded at 1e-9 then DECIMAL-summed — the repo's LN-term
    discipline (`survival_kaplan_meier`).

    Scale: one user-partitioned window, then everything is
    |types|²-bounded.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = e.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("curr"),
    ).filter(F.col("prev").isNotNull())
    c = seq.groupBy("prev", "curr").agg(F.count("*").alias("n"))
    r = c.groupBy(F.col("prev").alias("r_prev")).agg(F.sum("n").alias("rn"))
    p = F.col("n").cast("double") / F.col("rn")
    term = F.round(-p * F.log(p) / F.log(F.lit(2.0)), 9).cast("decimal(18,9)")
    return (
        c.join(F.broadcast(r), F.col("prev") == F.col("r_prev"))
        .groupBy("prev", "rn")
        .agg(F.sum(term).cast("double").alias("h_bits"))
        .select(
            "prev",
            F.col("rn").cast("bigint").alias("n_transitions"),
            "h_bits",
        )
    )

# --------------------------------------------------------------------------
# Term burstiness (Church-Gale)
# --------------------------------------------------------------------------

_BURST_MIN_DF = 20


@query(
    "term_burstiness",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({tx.tokens_sql()}) AS w FROM documents),
    per_doc AS (
      SELECT w, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    stats AS (
      SELECT w,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS cf
      FROM per_doc GROUP BY 1
      HAVING COUNT(*) >= {_BURST_MIN_DF})
    SELECT w, df, cf,
           CAST(cf AS DOUBLE) / df AS burstiness
    FROM stats
    """,
)
def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness: collection frequency over document
    frequency per term — the mean occurrences WITHIN documents that
    contain the term.  Function words sit near 1x-per-mention-rate;
    topical/bursty terms repeat heavily once they appear — the signal IR
    models (and keyword-stuffing detectors) use beyond raw frequency,
    completing the term-statistics family around TF-IDF and
    ``cooccurrence_pmi``.

    Determinism: df/cf are exact integers; burstiness is one raw double
    division (no round call).  The df floor bounds the output to the
    shared vocabulary.

    Scale: explode → (term, doc) aggregate → term aggregate, all
    map-side combinable on uniform hash keys; never materializes a
    docs x vocab matrix.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tx.tokens("text")).alias("w"))
    per_doc = tok.groupBy("w", "doc_id").agg(F.count("*").alias("tf"))
    stats = (
        per_doc.groupBy("w")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("cf"),
        )
        .filter(F.col("df") >= _BURST_MIN_DF)
    )
    return stats.select(
        "w", "df", "cf", (F.col("cf").cast("double") / F.col("df")).alias("burstiness")
    )

# --------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test between the A/B arms
# --------------------------------------------------------------------------


@query(
    "mann_whitney_arms",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             {AB_ARM_SQL} AS arm,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS HUGEINT)
               AS s_fp
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1),
    ranked AS (
      SELECT arm,
             -- average rank over ties: (min_rank + max_rank) / 2, exact
             -- half-integers via RANK + COUNT over the tie group
             CAST(RANK() OVER (ORDER BY s_fp ASC) AS DOUBLE)
               + (CAST(COUNT(*) OVER (PARTITION BY s_fp) AS DOUBLE) - 1) / 2
               AS r
      FROM assign),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 1 THEN CAST(r * 2 AS BIGINT) ELSE 0 END)
             AS BIGINT) AS r1_x2,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
      FROM ranked)
    SELECT n1, n0,
           CAST(r1_x2 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2
             AS u_stat,
           (CAST(r1_x2 AS DOUBLE) / 2
              - CAST(n1 AS DOUBLE) * (n1 + 1) / 2
              - CAST(n1 AS DOUBLE) * n0 / 2)
             / SQRT(CAST(n1 AS DOUBLE) * n0 * (n1 + n0 + 1) / 12) AS z_approx
    FROM agg
    """,
)
def mann_whitney_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the salted-md5 A/B arms
    on per-user purchase spend — the NONPARAMETRIC two-sample test teams
    reach for when spend is skewed and t/Welch assumptions wobble;
    completes the experiment toolkit beside `ab_test_lift_report`
    (parametric), `ab_quantile_treatment_effect` (distributional), and
    `ks_test_drift` (the unpaired-distribution cousin).

    Determinism: spends are integer fixed point, so ranking is over exact
    integers; tie-averaged ranks are exact half-integers carried DOUBLED
    as integers through the sum (no .5 accumulates in float); U and the
    normal approximation z are raw closed-form doubles of exact integers
    (A/A split here, so z ≈ 0 — pinned).

    Scale: one user aggregate, then the rank layout collapses to DISTINCT
    spend values (tie-averaged rank is a pure function of the exclusive
    running count of smaller values and the tie size), and that prefix
    runs through operators/rank.py's ``global_running_agg`` over uniform
    spend buckets — no single-partition window even as the user base
    scales; closing is a 1-row reduction.
    """
    e = load_table(spark, sf_dir, "events")
    assign = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("spend"))
        .select(
            ab_arm().alias("arm"),
            (F.col("spend") * 1_000_000).cast("decimal(38,0)").alias("s_fp"),
        )
    )
    # Collapse to distinct spend values: tie-averaged doubled rank
    # r*2 = 2*(rows strictly below) + (tie size) + 1, an exact integer —
    # so the only ordered pass is an exclusive running count over
    # DISTINCT values, done with the bucketed prefix decomposition.
    per_va = assign.groupBy("s_fp", "arm").agg(F.count("*").alias("nva"))
    vals = per_va.groupBy("s_fp").agg(F.sum("nva").alias("cnt"))
    ranked_vals = global_running_agg(
        with_uniform_key_buckets(
            vals.withColumn("_sd", F.col("s_fp").cast("double")), "_sd"
        ),
        "cnt",
        [F.col("s_fp").asc()],
        F.col("_gbk"),
        out_col="_below",
        agg="sum",
        inclusive=False,
    ).select(
        "s_fp",
        (
            F.coalesce(F.col("_below"), F.lit(0)) * 2 + F.col("cnt") + 1
        ).alias("r2"),
    )
    joined = per_va.join(ranked_vals, "s_fp")
    agg = joined.agg(
        F.sum(F.when(F.col("arm") == 1, F.col("r2") * F.col("nva")).otherwise(0))
        .cast("bigint")
        .alias("r1_x2"),
        F.sum(F.when(F.col("arm") == 1, F.col("nva")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("nva")).otherwise(0))
        .cast("bigint")
        .alias("n0"),
    )
    n1d = F.col("n1").cast("double")
    n0d = F.col("n0").cast("double")
    u = F.col("r1_x2").cast("double") / 2 - n1d * (F.col("n1") + 1) / 2
    z = (
        F.col("r1_x2").cast("double") / 2
        - n1d * (F.col("n1") + 1) / 2
        - n1d * n0d / 2
    ) / F.sqrt(n1d * n0d * (F.col("n1") + F.col("n0") + 1) / 12)
    return agg.select("n1", "n0", u.alias("u_stat"), z.alias("z_approx"))

# --------------------------------------------------------------------------
# One-way ANOVA across event types
# --------------------------------------------------------------------------


@query(
    "anova_f_event_types",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s1,
             SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
               AS s2
      FROM events GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(ROUND(SUM(s1), 4) AS DOUBLE) AS st1,
             CAST(ROUND(SUM(s2), 4) AS DOUBLE) AS st2,
             CAST(SUM(CAST(ROUND(
               CAST(ROUND(s1, 4) AS DOUBLE) * CAST(ROUND(s1, 4) AS DOUBLE)
                 / n, 6)
               AS DECIMAL(28,6))) AS DOUBLE) AS sum_gsq
      FROM g)
    SELECT n_total, k,
           sum_gsq - st1 * st1 / n_total AS ss_between,
           st2 - sum_gsq AS ss_within,
           ((sum_gsq - st1 * st1 / n_total) / (k - 1))
             / ((st2 - sum_gsq) / (n_total - k)) AS f_stat
    FROM tot
    """,
)
def anova_f_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean event value differ across event types?
    F = (SS_between/(k-1)) / (SS_within/(n-k)) from per-group exact
    decimal moments — the k-group generalization of
    ``ab_test_lift_report``'s two-sample contrast, and the screening test
    run before per-pair drilldowns.

    Determinism: group moments are exact decimals rounded at scale 4
    before any double cast (the `dec_sum_of` 2^53 discipline — the
    scale-12 squared sums overflow the exactly-convertible range
    otherwise); the one non-mergeable
    term (sum of squared-group-total/n) rounds each group's double at
    1e-6 then DECIMAL-sums (order-independent over k groups); F is raw
    closed-form arithmetic of those identical doubles.

    Scale: one map-side-combining aggregate keyed by type, then a k-row
    reduction — no second scan.
    """
    e = load_table(spark, sf_dir, "events")
    d6 = F.col("value").cast("decimal(18,6)")
    g = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(d6).alias("s1"),
        F.sum(d6 * d6).alias("s2"),
    )
    s1d = F.round(F.col("s1"), 4).cast("double")
    gsq = F.round(s1d * s1d / F.col("n"), 6).cast("decimal(28,6)")
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("k"),
        F.round(F.sum("s1"), 4).cast("double").alias("st1"),
        F.round(F.sum("s2"), 4).cast("double").alias("st2"),
        F.sum(gsq).cast("double").alias("sum_gsq"),
    )
    ssb = F.col("sum_gsq") - F.col("st1") * F.col("st1") / F.col("n_total")
    ssw = F.col("st2") - F.col("sum_gsq")
    # try_divide: k=1 group or n=k (one row per group) zeroes a dof —
    # F is undefined (NULL), not an ANSI abort (n=1 fixture sweep)
    f = F.try_divide(
        F.try_divide(ssb, F.col("k") - 1),
        F.try_divide(ssw, F.col("n_total") - F.col("k")),
    )
    return tot.select(
        "n_total",
        "k",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        f.alias("f_stat"),
    )

# --------------------------------------------------------------------------
# Decision-stump split gain (Gini impurity screening)
# --------------------------------------------------------------------------


@query(
    "stump_split_gain",
    oracle="""
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM pts),
    per_q AS (
      SELECT q, COUNT(*) AS cn, SUM(y) AS cpos FROM pts GROUP BY q),
    cum AS (
      SELECT q,
             SUM(cn) OVER (ORDER BY q ASC) AS ln,
             SUM(cpos) OVER (ORDER BY q ASC) AS lpos
      FROM per_q),
    gains AS (
      SELECT c.q AS split_le, t.n, t.pos, c.ln, c.lpos,
             -- gini(parent) - weighted gini(children), all raw doubles
             (1 - (CAST(t.pos AS DOUBLE) / t.n) * (CAST(t.pos AS DOUBLE) / t.n)
                - (1 - CAST(t.pos AS DOUBLE) / t.n)
                  * (1 - CAST(t.pos AS DOUBLE) / t.n))
             - (CAST(c.ln AS DOUBLE) / t.n)
               * (1 - (CAST(c.lpos AS DOUBLE) / c.ln) * (CAST(c.lpos AS DOUBLE) / c.ln)
                    - (1 - CAST(c.lpos AS DOUBLE) / c.ln)
                      * (1 - CAST(c.lpos AS DOUBLE) / c.ln))
             - (CAST(t.n - c.ln AS DOUBLE) / t.n)
               * (1 - (CAST(t.pos - c.lpos AS DOUBLE) / (t.n - c.ln))
                      * (CAST(t.pos - c.lpos AS DOUBLE) / (t.n - c.ln))
                    - (1 - CAST(t.pos - c.lpos AS DOUBLE) / (t.n - c.ln))
                      * (1 - CAST(t.pos - c.lpos AS DOUBLE) / (t.n - c.ln)))
               AS gain
      FROM cum c CROSS JOIN tot t
      WHERE c.ln < t.n)
    SELECT split_le,
           CAST(ln AS BIGINT) AS n_left,
           CAST(lpos AS BIGINT) AS pos_left,
           gain
    FROM gains
    """,
)
def stump_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump screening: Gini-impurity gain of every candidate
    split "quantity <= q" for predicting a return — the single-feature
    split scan inside every tree learner, and the cheap feature-
    importance probe analysts run before modeling ("does quantity
    predict returns at all?").  All candidate splits come from ONE
    cumulative pass over the value domain (the `ks_test_drift` CDF
    layout), not one scan per threshold.

    Determinism: class counts are exact integers; each gain is one raw
    closed-form double expression of identical integers (no rounding
    call).  Gain nonnegativity at the argmax and the
    no-information-split=0 case are pinned in tests.

    Scale: the fact table collapses to the (value, class) histogram
    first; the cumulative window runs over the |distinct values| domain
    with a 1-row totals broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    tot = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    per_q = pts.groupBy("q").agg(
        F.count("*").alias("cn"), F.sum("y").alias("cpos")
    )
    w = Window.orderBy(F.col("q").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_q.select(
        "q",
        F.sum("cn").over(w).alias("ln"),
        F.sum("cpos").over(w).alias("lpos"),
    )

    def gini(p):
        return F.lit(1) - p * p - (F.lit(1) - p) * (F.lit(1) - p)

    c = cum.crossJoin(F.broadcast(tot)).filter(F.col("ln") < F.col("n"))
    p_parent = F.col("pos").cast("double") / F.col("n")
    p_left = F.col("lpos").cast("double") / F.col("ln")
    p_right = (F.col("pos") - F.col("lpos")).cast("double") / (
        F.col("n") - F.col("ln")
    )
    gain = (
        gini(p_parent)
        - (F.col("ln").cast("double") / F.col("n")) * gini(p_left)
        - ((F.col("n") - F.col("ln")).cast("double") / F.col("n")) * gini(p_right)
    )
    return c.select(
        F.col("q").alias("split_le"),
        F.col("ln").cast("bigint").alias("n_left"),
        F.col("lpos").cast("bigint").alias("pos_left"),
        gain.alias("gain"),
    )
