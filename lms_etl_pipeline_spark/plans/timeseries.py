"""Time-series model plans (split from the sequence plans).

Operators over the ordered daily/hourly metric series: EWMA smoothing,
autocorrelation, PAA/SAX symbolization, pinball-loss quantile-forecast
eval, 1-D Wasserstein drift, multiplicative weekly seasonal indexing,
sweep-line peak concurrency, jackknife standard errors, and the
weekday-by-hour activity heatmap.

Numeric discipline (shared by the whole former sequences module):
wherever a ROUND of a derived double could land on an exact .5 boundary,
the computation moves to exact integer fixed point closed by truncated
``div`` (Spark ``div`` == DuckDB integer ``//``, both toward zero —
pinned by tests/test_numeric_conventions.py).  Cross-row double sums go
through fixed-scale DECIMAL casts; every emitted float is produced by a
deterministic closing expression.

Reference parity note: the reference (`/root/reference/src/*.py`, a
2-file pandas ETL) has no analytics layer; these extend the engine along
the driver-mandated SURVEY.md §2.12 axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators.rank import (
    global_running_agg,
    with_uniform_key_buckets,
)
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# EWMA smoothing
# --------------------------------------------------------------------------

#: EWMA truncation depth: alpha = 1/2, truncated at 8 lags.  The 2^-k
#: weights are carried as the exact INTEGERS 2^(LAGS-k) over a common
#: 2^LAGS denominator, so the whole weighted sum is integer arithmetic.
_EWMA_LAGS = 8


def _ewma_oracle() -> str:
    # Integer fixed point: weight 2^-k scaled by 2^LAGS becomes the exact
    # integer 2^(LAGS-k); the whole weighted sum stays in integer micro
    # units and ONE truncated integer division emits the smoothed value
    # (Spark `div` and DuckDB `//` both truncate toward zero — pinned by
    # tests/test_numeric_conventions.py — so no rounding boundary exists).
    num = f"x_u * {2 ** _EWMA_LAGS} + " + " + ".join(
        f"COALESCE(LAG(x_u, {k}) OVER w, 0) * {2 ** (_EWMA_LAGS - k)}"
        for k in range(1, _EWMA_LAGS + 1)
    )
    den = f"{2 ** _EWMA_LAGS} + " + " + ".join(
        f"CASE WHEN LAG(x_u, {k}) OVER w IS NOT NULL"
        f" THEN {2 ** (_EWMA_LAGS - k)} ELSE 0 END"
        for k in range(1, _EWMA_LAGS + 1)
    )
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) * 1000000
                  AS HUGEINT) AS x_u
      FROM events GROUP BY 1, 2)
    SELECT event_type, day,
           CAST(x_u AS DOUBLE) / 1000000.0 AS x,
           CAST(CAST(({num}) // ({den}) AS BIGINT) AS DOUBLE) / 1000000.0
             AS ewma
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
    """


@query("ewma_smoothing", oracle=_ewma_oracle())
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 1/2, truncated at 8
    lags, adjusted weights) of each event type's daily value total — the
    smoother behind "smoothed DAU" dashboard lines and EWMA alert rules.

    The recursive definition is unrolled into 9 explicit LAG terms, which
    keeps the whole thing ONE window pass (no recursion, no UDF).  With
    alpha = 1/2 the truncation error is bounded by 2^-9 of the oldest
    mass.  Numerics: the daily series moves to exact integer micro-units;
    scaling each 2^-k weight by 2^8 makes every weighted term an exact
    integer product, and the single closing truncated integer division
    (Spark ``div`` ≡ DuckDB ``//``, both toward zero — pinned by
    tests/test_numeric_conventions.py) emits micro-precision — no double
    ratio is ever ROUNDed, so no .5 boundary can split the engines.

    Scale: events collapse to the (type x day) aggregate first (map-side
    combine); the window runs over that calendar-sized summary.  Nine lags
    per row is O(1) state per partition — at any fleet size the window
    input is |types| x |days|, never the raw event count.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        (F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6) * 1_000_000)
        .cast("decimal(38,0)")
        .alias("x_u")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("day").asc())
    num = F.col("x_u") * F.lit(2**_EWMA_LAGS)
    den = F.lit(2**_EWMA_LAGS)
    for k in range(1, _EWMA_LAGS + 1):
        xk = F.lag("x_u", k).over(w)
        num = num + F.coalesce(xk, F.lit(0)) * F.lit(2 ** (_EWMA_LAGS - k))
        den = den + F.when(
            xk.isNotNull(), F.lit(2 ** (_EWMA_LAGS - k))
        ).otherwise(F.lit(0))
    return daily.select(
        "event_type",
        "day",
        (F.col("x_u").cast("double") / 1_000_000.0).alias("x"),
        num.alias("_num"),
        den.alias("_den"),
    ).select(
        "event_type",
        "day",
        "x",
        (F.expr("CAST(_num div _den AS BIGINT)").cast("double") / 1_000_000.0)
        .alias("ewma"),
    )

# --------------------------------------------------------------------------
# Autocorrelation (ACF) of the daily count series
# --------------------------------------------------------------------------

_ACF_LAGS = (1, 7)


def _acf_oracle() -> str:
    arms = []
    for lag in _ACF_LAGS:
        arms.append(f"""
    SELECT event_type, CAST({lag} AS INTEGER) AS lag,
           CAST(nn AS BIGINT) AS n_pairs,
           ROUND(
             (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT(
                 (CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS acf
    FROM (
      SELECT event_type,
             COUNT(*) AS nn,
             SUM(x) AS sx,
             SUM(y) AS sy,
             SUM(x * y) AS sxy,
             SUM(x * x) AS sxx,
             SUM(y * y) AS syy
      FROM (
        SELECT event_type, x,
               LAG(x, {lag}) OVER (PARTITION BY event_type ORDER BY day ASC) AS y
        FROM (SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(COUNT(*) AS DECIMAL(18,0)) AS x
              FROM events GROUP BY 1, 2))
      WHERE y IS NOT NULL
      GROUP BY event_type)""")
    return " UNION ALL ".join(arms)


@query("acf_lags", oracle=_acf_oracle())
def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's daily-count series at lags 1
    and 7 — the seasonality probe (strong lag-7 ACF = weekly rhythm) run
    before every forecasting-model choice, and the statistical twin of
    ``timeseries_seasonal_profile``'s calendar cut.

    Determinism: the series is integer daily counts; all five moments
    (sums, squares, cross products) are exact DECIMAL(38,0) integer sums,
    so the single closing double expression — Pearson r of (x_t, x_{t-k})
    — sees identical inputs on both engines and is rounded once.

    Scale: raw events collapse to the (type x day) count first; the lag
    window and moment aggregation run over that calendar-sized series.
    The UNION over lags re-reads only the aggregate, and each arm is one
    window pass + one hash aggregate keyed by event_type.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    out = None
    for lag in _ACF_LAGS:
        w = Window.partitionBy("event_type").orderBy(F.col("day").asc())
        paired = daily.select(
            "event_type",
            F.col("x").cast("decimal(18,0)").alias("x"),
            F.lag("x", lag).over(w).cast("decimal(18,0)").alias("y"),
        ).filter(F.col("y").isNotNull())
        m = paired.groupBy("event_type").agg(
            F.count("*").alias("nn"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        nn_d = F.col("nn").cast("double")
        sx_d = F.col("sx").cast("double")
        sy_d = F.col("sy").cast("double")
        r = (
            nn_d * F.col("sxy").cast("double") - sx_d * sy_d
        ) / F.sqrt(
            (nn_d * F.col("sxx").cast("double") - sx_d * sx_d)
            * (nn_d * F.col("syy").cast("double") - sy_d * sy_d)
        )
        arm = m.select(
            "event_type",
            F.lit(lag).cast("int").alias("lag"),
            F.col("nn").cast("bigint").alias("n_pairs"),
            F.round(r, 6).alias("acf"),
        )
        out = arm if out is None else out.unionByName(arm)
    return out

# --------------------------------------------------------------------------
# PAA + SAX symbolization of the daily series
# --------------------------------------------------------------------------

_PAA_DAYS = 4
_SAX_ALPHABET = 4


@query(
    "sax_symbolization",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS HUGEINT)
               AS x_u
      FROM events GROUP BY 1, 2),
    origin AS (SELECT MIN(day) AS d0 FROM daily),
    paa AS (
      SELECT event_type,
             CAST(FLOOR(DATEDIFF('day', o.d0, day) / {_PAA_DAYS})
                  AS INTEGER) AS win_idx,
             CAST(CAST(SUM(x_u) // COUNT(*) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS paa
      FROM daily CROSS JOIN origin o
      GROUP BY 1, 2),
    sym AS (
      SELECT event_type, win_idx, paa,
             NTILE({_SAX_ALPHABET}) OVER (
               PARTITION BY event_type
               ORDER BY paa ASC, win_idx ASC) AS q
      FROM paa)
    SELECT event_type, win_idx, paa,
           CHR(CAST(96 + q AS INTEGER)) AS symbol
    FROM sym
    """,
)
def sax_symbolization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise Aggregate Approximation + SAX symbolization (Lin et al.
    2003) of each event type's daily value series: the calendar is cut
    into {_PAA_DAYS}-day frames, each frame becomes its mean (PAA), and
    frames map to a {_SAX_ALPHABET}-letter alphabet by within-series
    empirical quartile (NTILE with a deterministic tiebreak) — the
    dimensionality-reduction step behind time-series motif/anomaly mining
    at scale (symbols, not floats, feed the downstream index).

    Determinism: the daily series moves to exact integer micro-units and
    each frame mean is ONE truncated integer division (Spark ``div`` ≡
    DuckDB ``//``, pinned by tests/test_numeric_conventions.py) — no
    double ratio is ROUNDed, so no .5 boundary can split the engines.
    The quartile cut is NTILE over (paa, win_idx) — total order, no ties
    left to the engine.  Classic SAX uses Gaussian breakpoints on a
    z-normalized series; empirical quartiles keep the differential check
    exact while preserving the equal-occupancy property.

    Scale: events collapse to (type x day), then to (type x frame) —
    report-sized; the NTILE window partitions per series.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (F.sum(F.col("value").cast("decimal(18,6)")) * 1_000_000)
        .cast("decimal(38,0)")
        .alias("x_u")
    )
    origin = daily.agg(F.min("day").alias("d0"))
    paa = (
        daily.crossJoin(F.broadcast(origin))
        .groupBy(
            "event_type",
            F.floor(F.datediff(F.col("day"), F.col("d0")) / _PAA_DAYS)
            .cast("int")
            .alias("win_idx"),
        )
        .agg(
            F.sum("x_u").alias("_s"),
            F.count("*").alias("_n"),
        )
        .select(
            "event_type",
            "win_idx",
            (F.expr("CAST(_s div _n AS BIGINT)").cast("double") / 1_000_000.0)
            .alias("paa"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("paa").asc(), F.col("win_idx").asc()
    )
    return paa.select(
        "event_type",
        "win_idx",
        "paa",
        F.char(F.lit(96) + F.ntile(_SAX_ALPHABET).over(w)).alias("symbol"),
    )

# --------------------------------------------------------------------------
# Pinball (quantile) loss evaluation of a quantile forecaster
# --------------------------------------------------------------------------

_PINBALL_QS = (0.5, 0.9)
_TRAIN_DAYS = 21


def _pinball_oracle() -> str:
    arms = []
    for q in _PINBALL_QS:
        tq = int(round(q * 10))  # q in tenths: 5 or 9, exact
        arms.append(f"""
    SELECT t.event_type, CAST({q} AS DOUBLE) AS q,
           CAST(COUNT(*) AS BIGINT) AS n_test_days,
           CAST(CAST(CAST(SUM(CAST(
             CASE WHEN t.x_u * 10 >= f.yhat_10u
                  THEN {tq} * (t.x_u * 10 - f.yhat_10u)
                  ELSE {tq - 10} * (t.x_u * 10 - f.yhat_10u) END
             AS DECIMAL(38,0))) AS HUGEINT)
             // (COUNT(*) * 100) AS BIGINT) AS DOUBLE) / 1000000.0
             AS pinball_loss
    FROM test t JOIN (
      SELECT event_type,
             MAX(CASE WHEN rn = ((n-1) * {tq}) // 10 THEN x_u END)
               * (10 - ((n-1) * {tq}) % 10)
             + MAX(CASE WHEN rn = ((n-1) * {tq} + 9) // 10 THEN x_u END)
               * (((n-1) * {tq}) % 10) AS yhat_10u
      FROM ranked GROUP BY event_type, n) f
    ON f.event_type = t.event_type
    GROUP BY t.event_type""")
    prefix = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) * 1000000
                  AS BIGINT) AS x_u
      FROM events GROUP BY 1, 2),
    origin AS (SELECT MIN(day) AS d0 FROM daily),
    lab AS (
      SELECT d.*, DATEDIFF('day', o.d0, d.day) < {_TRAIN_DAYS} AS is_train
      FROM daily d CROSS JOIN origin o),
    ranked AS (
      SELECT event_type, x_u,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY x_u, event_type) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM lab WHERE is_train),
    test AS (SELECT event_type, x_u FROM lab WHERE NOT is_train)
    """
    return prefix + " UNION ALL ".join(arms)


@query("pinball_loss_eval", oracle=_pinball_oracle())
def pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of a constant-quantile forecaster: train on
    the first {_TRAIN_DAYS} calendar days, predict each type's daily value
    at q=0.5 and q=0.9 as the train-window quantile, score on the held-out
    tail — the accuracy metric for QUANTILE forecasts (P50/P90 capacity
    planning), completing the eval suite beside ``forecast_backtest_eval``
    (point forecasts) and ``retrieval_mrr_ndcg`` (rankings).

    Determinism — EXACT INTEGER END TO END: rounding per-day losses at
    6 dp would not do, because ``ROUND(q*err, 6)`` on an inexact double
    splits the engines when the product sits within
    an ulp of a .5 boundary (the double-round-tie class; one test day of
    seed 16 landed there and shifted a truncated mean by 1e-6).  Now the
    daily series is exact micro-units; the train quantile interpolates
    bracketing order statistics in integer 1e-7 units (the
    ``interarrival_time_stats`` recipe — q is in tenths, so the weight is
    an integer 0..9); each day's loss is ``10q`` or ``10q−10`` times an
    integer error (1e-8 units, exact); the DECIMAL(38,0) sum and the
    closing truncated division are exact on both engines.  No double is
    rounded anywhere.

    Scale: events collapse to (type x day); everything after is
    report-sized.  The per-type quantile table is a broadcast join; the
    rank window partitions on the bounded type key.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6) * 1_000_000)
        .cast("bigint")
        .alias("x_u")
    )
    origin = daily.agg(F.min("day").alias("d0"))
    lab = daily.crossJoin(F.broadcast(origin)).withColumn(
        "is_train", F.datediff(F.col("day"), F.col("d0")) < _TRAIN_DAYS
    )
    wr = Window.partitionBy("event_type").orderBy("x_u", "event_type")
    wn = Window.partitionBy("event_type")
    ranked = (
        lab.filter("is_train")
        .select(
            "event_type",
            "x_u",
            (F.row_number().over(wr) - 1).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
    )
    test = lab.filter("NOT is_train").select("event_type", "x_u")
    out = None
    for q in _PINBALL_QS:
        tq = int(round(q * 10))
        # All arithmetic past this point runs in DECIMAL(38,0), not BIGINT:
        # x_u is a scale-6 micro-unit daily sum backed by DECIMAL(18,6)
        # (up to ~1e18), so x_u*10 and tq*err would silently wrap int64 on
        # adversarial magnitudes while the DuckDB oracle (which sums
        # through HUGEINT) would not — widening first keeps both engines
        # exact (ADVICE r9).
        x_dec = F.col("x_u").cast("decimal(38,0)")
        f = ranked.groupBy("event_type", "n").agg(
            (
                F.max(
                    F.when(
                        F.col("rn") == F.expr(f"((n-1) * {tq}) DIV 10"),
                        x_dec,
                    )
                )
                * F.expr(f"10 - ((n-1) * {tq}) % 10")
                + F.max(
                    F.when(
                        F.col("rn") == F.expr(f"((n-1) * {tq} + 9) DIV 10"),
                        x_dec,
                    )
                )
                * F.expr(f"((n-1) * {tq}) % 10")
            )
            .cast("decimal(38,0)")
            .alias("yhat_10u")
        ).select("event_type", "yhat_10u")
        err = x_dec * 10 - F.col("yhat_10u")
        loss = F.when(err >= 0, F.lit(tq) * err).otherwise(F.lit(tq - 10) * err)
        arm = (
            test.join(F.broadcast(f), "event_type")
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_test_days"),
                F.sum(loss.cast("decimal(38,0)")).alias("_s"),
            )
            .select(
                "event_type",
                F.lit(float(q)).alias("q"),
                "n_test_days",
                (
                    F.expr("CAST(_s div (n_test_days * 100) AS BIGINT)")
                    .cast("double")
                    / 1_000_000.0
                ).alias("pinball_loss"),
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out

# --------------------------------------------------------------------------
# 1-D Wasserstein (earth mover's) drift
# --------------------------------------------------------------------------


@query(
    "wasserstein_drift_1d",
    oracle="""
    WITH t AS (
      SELECT n_chars AS v, (doc_id % 10 = 7) AS in_delta FROM documents),
    tot AS (
      SELECT COUNT(*) FILTER (WHERE NOT in_delta) AS n_idx,
             COUNT(*) FILTER (WHERE in_delta) AS n_del
      FROM t),
    pv AS (
      SELECT v,
             COUNT(*) FILTER (WHERE NOT in_delta) AS c_idx,
             COUNT(*) FILTER (WHERE in_delta) AS c_del
      FROM t GROUP BY v),
    cdf AS (
      SELECT v,
             SUM(c_idx) OVER (ORDER BY v ASC) AS cum_idx,
             SUM(c_del) OVER (ORDER BY v ASC) AS cum_del,
             LEAD(v) OVER (ORDER BY v ASC) AS next_v
      FROM pv)
    SELECT CAST(ROUND(SUM(CAST(ROUND(
             ABS(CAST(c.cum_idx AS DOUBLE) / t.n_idx
                 - CAST(c.cum_del AS DOUBLE) / t.n_del)
             * (c.next_v - c.v), 9) AS DECIMAL(28,9))), 6) AS DOUBLE)
             AS w1_distance,
           CAST(MAX(t.n_idx) AS BIGINT) AS n_index,
           CAST(MAX(t.n_del) AS BIGINT) AS n_delta
    FROM cdf c CROSS JOIN tot t
    WHERE c.next_v IS NOT NULL
    """,
)
def wasserstein_drift_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between the delta batch
    and the index corpus over document length: W1 = integral of
    |CDF_idx - CDF_delta| — the INTEGRAL drift metric that, unlike KS's
    sup-norm (``ks_test_drift``, same split), scores HOW FAR mass moved,
    not just the worst point; the metric of choice for monitoring skewed
    numeric features.

    Determinism: step CDFs are exact integer cumulative counts over the
    sorted value domain; each trapezoid-free step term
    |F_a - F_b| * (v_next - v) is rounded at 1e-9 then DECIMAL-summed
    (order-independent); one final rounding.

    Scale: aggregates collapse to the distinct VALUE DOMAIN first (same
    discipline as KS); the cumulative window runs over that domain, and
    the totals are a 1-row broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        F.col("n_chars").alias("v"), (F.col("doc_id") % 10 == 7).alias("in_delta")
    )
    tot = t.agg(
        F.sum(F.when(~F.col("in_delta"), 1).otherwise(0)).alias("n_idx"),
        F.sum(F.when(F.col("in_delta"), 1).otherwise(0)).alias("n_del"),
    )
    pv = t.groupBy("v").agg(
        F.sum(F.when(~F.col("in_delta"), 1).otherwise(0)).alias("c_idx"),
        F.sum(F.when(F.col("in_delta"), 1).otherwise(0)).alias("c_del"),
    )
    w = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = Window.orderBy(F.col("v").asc())
    cdf = pv.select(
        "v",
        F.sum("c_idx").over(w).alias("cum_idx"),
        F.sum("c_del").over(w).alias("cum_del"),
        F.lead("v").over(wl).alias("next_v"),
    )
    term = F.round(
        F.abs(
            F.col("cum_idx").cast("double") / F.col("n_idx")
            - F.col("cum_del").cast("double") / F.col("n_del")
        )
        * (F.col("next_v") - F.col("v")),
        9,
    ).cast("decimal(28,9)")
    return (
        cdf.filter(F.col("next_v").isNotNull())
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(term), 6).cast("double").alias("w1_distance"),
            F.max("n_idx").cast("bigint").alias("n_index"),
            F.max("n_del").cast("bigint").alias("n_delta"),
        )
    )

# --------------------------------------------------------------------------
# Weekly multiplicative seasonal index (ratio-to-moving-average)
# --------------------------------------------------------------------------


@query(
    "seasonal_index_weekly",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) * 1000000
                  AS HUGEINT) AS x_u
      FROM events GROUP BY 1, 2),
    ma AS (
      SELECT event_type, day, x_u,
             COUNT(*) OVER w AS n_win,
             SUM(x_u) OVER w AS s_u
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    ratio AS (
      SELECT event_type, ISODOW(day) AS weekday,
             CAST((x_u * 7000000) // s_u AS BIGINT) AS r_micro
      FROM ma WHERE n_win = 7 AND s_u > 0)
    SELECT event_type, CAST(weekday AS INTEGER) AS weekday,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(r_micro) // COUNT(*) AS DOUBLE) / 1000000.0
             AS seasonal_index
    FROM ratio GROUP BY 1, 2
    """,
)
def seasonal_index_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical ratio-to-moving-average seasonal index by ISO weekday:
    each day's value over its centered 7-day moving average, averaged per
    (type, weekday) — the MULTIPLICATIVE decomposition ("Mondays run at
    0.8x trend") complementing the additive hour-of-day model in
    ``timeseries_seasonal_profile``; only complete 7-day windows rate.

    Numerics: the daily series moves to exact integer micro-units, the MA
    frame sum stays integer, and each day/trend ratio is an exact
    TRUNCATED integer division to micro precision (Spark ``div`` and
    DuckDB ``//`` both truncate toward zero — measured and pinned by
    tests/test_numeric_conventions.py, so the idiom is sign-safe) — no
    double ratio exists, so no rounding boundary can straddle engines.
    One final truncated division of exact integers emits the index.

    Scale: calendar-sized after the first collapse; the centered frame is
    O(1) state per series; 128-bit intermediates bound the scaled
    numerators at any volume.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6) * 1_000_000)
        .cast("decimal(38,0)")
        .alias("x_u")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        "day",
        "x_u",
        F.count("*").over(w).alias("n_win"),
        F.sum("x_u").over(w).alias("s_u"),
    )
    ratio = ma.filter((F.col("n_win") == 7) & (F.col("s_u") > 0)).select(
        "event_type",
        (F.weekday("day") + 1).alias("weekday"),
        F.expr("CAST((x_u * 1000000 * 7) div s_u AS BIGINT)").alias("r_micro"),
    )
    agg = ratio.groupBy(
        "event_type", F.col("weekday").cast("int").alias("weekday")
    ).agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("r_micro").alias("_s"),
    )
    # mean truncated to exact integer micro-units (div — identical to
    # DuckDB's integer // toward zero, sign included), then ONE pure
    # double division by 1e6 — no ROUND call exists to straddle a .5
    # boundary (Spark rounds the shortest decimal repr, DuckDB the
    # binary value; an exact x.xxxxxx5 rational would split them).
    return agg.select(
        "event_type",
        "weekday",
        "n_obs",
        (F.expr("CAST(_s div n_obs AS BIGINT)").cast("double") / 1_000_000.0)
        .alias("seasonal_index"),
    )

# --------------------------------------------------------------------------
# Peak concurrency (sweep line over sessions)
# --------------------------------------------------------------------------


@query(
    "peak_concurrency_daily",
    oracle="""
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                          > 1800000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
    sess AS (
      SELECT user_id,
             MIN(ts) AS s_start,
             MAX(ts) AS s_end
      FROM (SELECT user_id, ts,
                   SUM(is_start) OVER (PARTITION BY user_id
                                       ORDER BY ts ASC) AS sid
            FROM marks)
      GROUP BY user_id, sid),
    pts AS (
      SELECT s_start AS t, 1 AS delta FROM sess
      UNION ALL
      SELECT s_end + INTERVAL 1 MICROSECOND, -1 FROM sess),
    sweep AS (
      SELECT CAST(t AS DATE) AS day,
             SUM(delta) OVER (ORDER BY t ASC, delta DESC) AS live
      FROM pts)
    SELECT day, CAST(MAX(live) AS BIGINT) AS peak_concurrent_sessions
    FROM sweep GROUP BY day
    """,
)
def peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the classic SWEEP LINE:
    sessions (30-min gap rule, as `events_sessionize_gap`) become
    +1/-1 boundary marks, a single running sum over the time-ordered
    marks IS the live-session count, and the daily max is the capacity-
    planning headline ("size for peak, not average") that no
    per-interval GROUP BY can produce.

    Determinism: boundaries are exact µs instants; the sweep order is
    total ((t, delta desc) — a start and an end at the same instant count
    the session as live, matching the closed interval); counts exact.
    The end mark sits 1 µs after s_end so a session's final event
    instant is still covered.

    Scale: the sweep's global prefix sum runs over SESSION boundaries
    (two rows per session, far below event count) and is computed with
    the standard distributed prefix-sum layout FOR REAL — peers on the
    (t, delta) order key are pre-aggregated (so the original RANGE-frame
    peer semantics survive a ROWS-frame decomposition), then
    operators/rank.py's ``global_running_agg`` over uniform time buckets
    carries per-bucket offsets forward: no single-partition stage.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marks = e.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1
        )
        .otherwise(0)
        .alias("is_start"),
    )
    wsid = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    sess = (
        marks.withColumn("sid", F.sum("is_start").over(wsid))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    pts = sess.select(
        F.col("s_start").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sess.select(
            (F.col("s_end") + F.expr("INTERVAL 1 MICROSECOND")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    # Pre-aggregate peers: the original window's default RANGE frame gives
    # every (t, delta) peer the all-peers total, which is exactly the
    # per-distinct-key running sum — and with unique keys ROWS == RANGE,
    # so the bucketed ROWS-frame decomposition is semantics-preserving.
    grouped = pts.groupBy("t", "delta").agg(F.sum("delta").alias("d"))
    sweep = global_running_agg(
        with_uniform_key_buckets(
            grouped.withColumn("_tu", F.unix_micros("t")), "_tu"
        ),
        "d",
        [F.col("t").asc(), F.col("delta").desc()],
        F.col("_gbk"),
        out_col="live",
        agg="sum",
    ).select(F.col("t").cast("date").alias("day"), "live")
    return sweep.groupBy("day").agg(
        F.max("live").cast("bigint").alias("peak_concurrent_sessions")
    )

# --------------------------------------------------------------------------
# Jackknife standard error of the daily mean
# --------------------------------------------------------------------------


@query(
    "jackknife_se_daily_mean",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s
      FROM daily GROUP BY 1),
    loo AS (
      SELECT d.event_type, t.n, t.s,
             (t.s - d.x) / (t.n - 1) AS mean_i
      FROM daily d JOIN tot t ON t.event_type = d.event_type
      WHERE t.n > 1)
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_days,
           MAX(s) / MAX(n) AS mean_daily,
           SQRT((CAST(MAX(n) - 1 AS DOUBLE) / MAX(n))
                * CAST(ROUND(SUM(CAST(ROUND(
                    (mean_i - s / n) * (mean_i - s / n), 12)
                    AS DECIMAL(28,12))), 6) AS DOUBLE)) AS jackknife_se
    FROM loo GROUP BY event_type
    """,
)
def jackknife_se_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife standard error of each type's mean daily value —
    leave-one-day-out resampling made DETERMINISTIC and closed-form
    (mean_i = (S - x_i)/(n-1) needs only the total, no N re-aggregations)
    — the uncertainty bar dashboards should attach to "avg daily revenue"
    without bootstrap randomness; completes the inference family with
    `wilson_conversion_ci` (rates) and `ab_test_lift_report` (contrasts).

    Determinism: daily values and their total are exact decimals cast to
    double once; each squared deviation is one double expression rounded
    at 1e-12 then DECIMAL-summed; one final sqrt.

    Scale: calendar-sized after the first collapse; the leave-one-out
    terms come from a broadcast-join of the 1-row-per-type totals — n
    loo means from ONE pass, not n passes.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("x")
    )
    tot = daily.groupBy(F.col("event_type").alias("t_et")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(18,6)")).cast("double").alias("s"),
    )
    loo = (
        daily.join(F.broadcast(tot), F.col("event_type") == F.col("t_et"))
        .filter(F.col("n") > 1)
        .select(
            "event_type",
            "n",
            "s",
            ((F.col("s") - F.col("x")) / (F.col("n") - 1)).alias("mean_i"),
        )
    )
    dev2 = F.round(
        (F.col("mean_i") - F.col("s") / F.col("n"))
        * (F.col("mean_i") - F.col("s") / F.col("n")),
        12,
    ).cast("decimal(28,12)")
    # The sum of squared deviations is ROUNDed to scale 6 before its ONE
    # double cast: at ~sf1 the scale-12 sum's scaled integer passes 2^53,
    # where raw decimal->double conversion diverges between engines in the
    # last ulp (the dec_sum_of discipline; found by the adversarial sweep).
    return loo.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_days"),
        (F.max("s") / F.max("n")).alias("mean_daily"),
        F.sqrt(
            ((F.max("n") - 1).cast("double") / F.max("n"))
            * F.round(F.sum(dev2), 6).cast("double")
        ).alias("jackknife_se"),
    )

# --------------------------------------------------------------------------
# Weekday x hour activity heatmap
# --------------------------------------------------------------------------


@query(
    "weekday_hour_heatmap",
    oracle="""
    WITH cell AS (
      SELECT ISODOW(CAST(ts AS DATE)) AS weekday,
             EXTRACT(HOUR FROM ts) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    tot AS (SELECT SUM(n) AS t FROM cell)
    SELECT CAST(c.weekday AS INTEGER) AS weekday,
           CAST(c.hour AS INTEGER) AS hour,
           CAST(c.n AS BIGINT) AS n_events,
           CAST(CAST(c.n AS HUGEINT) * 1000000 // t.t AS DOUBLE) / 1000000.0
             AS share
    FROM cell c CROSS JOIN tot t
    """,
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (ISO weekday x hour) activity heatmap with each cell's share of
    total traffic — the ops "when are we busy" front page, combining the
    two calendar axes `timeseries_seasonal_profile` (hour) and
    `seasonal_index_weekly` (weekday) read separately; at most 168 cells
    at any fleet size.

    Determinism: counts exact; shares are floored micro fixed point (the
    repo's no-ROUND `div` discipline) with one power-of-ten double
    division.

    Scale: one map-side-combining aggregate on a bounded key + a 1-row
    total broadcast.
    """
    e = load_table(spark, sf_dir, "events")
    cell = e.groupBy(
        (F.weekday(F.to_date("ts")) + 1).alias("weekday"),
        F.hour("ts").alias("hour"),
    ).agg(F.count("*").alias("n"))
    tot = cell.agg(F.sum("n").alias("t"))
    return cell.crossJoin(F.broadcast(tot)).select(
        F.col("weekday").cast("int").alias("weekday"),
        F.col("hour").cast("int").alias("hour"),
        F.col("n").cast("bigint").alias("n_events"),
        (
            F.expr(
                "CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div t AS BIGINT)"
            ).cast("double")
            / 1_000_000.0
        ).alias("share"),
    )
