"""Behavioral outcome / journey analytics — the second half of the
behavior plans, split from ``plans/behavior.py`` along its
section boundaries (repo convention: plan modules stay <= ~1,100 LoC).

Families here: recursive hierarchy rollup (ancestor-chain rewrite),
linear multi-touch attribution, Kaplan-Meier survival, model gains/lift
tables, week-over-week change, period-over-period delta contribution,
new-vs-returning users, the attribution-window sensitivity sweep, and
session bounce/dwell metrics.  Reference-parity scope and determinism
conventions are ``plans/behavior``'s docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators.rank import (
    global_ntile,
    global_running_agg,
    with_uniform_key_buckets,
)
from lms_etl_pipeline_spark.plans import anchors
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Recursive hierarchy rollup (ancestor-chain rewrite of a recursive CTE)
# --------------------------------------------------------------------------

_TREE_MAX_DEPTH = 13  # covers suppkey < 2^13; guarded by a depth assertion


@query(
    "hierarchy_rollup_tree",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT s_suppkey AS node, s_suppkey AS a FROM supplier
      UNION ALL
      SELECT node, a // 2 FROM anc WHERE a > 1),
    rev AS (
      SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * CAST(1 - l_discount AS DECIMAL(12,2))) AS r
      FROM lineitem GROUP BY l_suppkey),
    depth AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS depth
              FROM anc GROUP BY node)
    SELECT anc.a AS suppkey, ANY_VALUE(d.depth) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_subtree,
           CAST(ROUND(SUM(COALESCE(rev.r, 0)), 4) AS DOUBLE) AS subtree_rev
    FROM anc
    JOIN depth d ON d.node = anc.a
    LEFT JOIN rev ON rev.l_suppkey = anc.node
    GROUP BY anc.a
    """,
)
def hierarchy_rollup_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-hierarchy rollup: treating supplier keys as a binary
    management tree (parent(k) = k//2, root 1), compute every node's
    depth, subtree size, and subtree revenue total — the org-chart /
    bill-of-materials explosion query.  Spark has NO recursive CTE; the
    engine rewrite materializes each node's ancestor CHAIN as a bounded
    array (floor(k/2^i) for i = 0..{13}) in one map-only projection, so
    the transitive closure is an explode + equi-join-free aggregate,
    differentially tested against DuckDB's genuinely RECURSIVE closure.

    Determinism: the chain is exact integer arithmetic; revenue is exact
    decimal; output rounding is the only float step.

    Scale: the closure is |nodes|·depth rows with depth ≤ log2(maxkey) —
    logarithmic fan, not quadratic; the rollup is one map-side-combining
    aggregate on the ancestor key.  Unbounded-depth hierarchies swap the
    closed-form chain for the iterative-doubling join loop
    (``session.materialize``-bounded, the ``operators/ml.py`` discipline).
    """
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    # the node itself is always its own first ancestor (keys 0 and 1 are
    # both roots — matches the recursive CTE's WHERE a > 1 stop rule)
    chain = F.concat(
        F.array(F.col("s_suppkey").cast("bigint")),
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.lit(_TREE_MAX_DEPTH)),
                lambda i: F.floor(
                    F.col("s_suppkey") / F.pow(F.lit(2.0), i.cast("double"))
                ).cast("bigint"),
            ),
            lambda a: a >= 1,
        ),
    )
    anc = s.select(
        F.col("s_suppkey").alias("node"), F.explode(chain).alias("a")
    )
    depth = anc.groupBy("node").agg(F.count("*").cast("bigint").alias("depth"))
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
        ).alias("r")
    )
    return (
        anc.join(depth.withColumnRenamed("node", "a"), "a")
        .join(rev, anc.node == rev.l_suppkey, "left")
        .groupBy(F.col("a").alias("suppkey"))
        .agg(
            F.any_value("depth").alias("depth"),
            F.count("*").cast("bigint").alias("n_subtree"),
            F.round(F.sum(F.coalesce("r", F.lit(0).cast("decimal(18,4)"))), 4)
            .cast("double")
            .alias("subtree_rev"),
        )
    )


# --------------------------------------------------------------------------
# Linear multi-touch attribution
# --------------------------------------------------------------------------

_ATTR_WINDOW_DAYS = 3
# Corpus-wide by default; the adversarial ~sf1 sweep bounds the (by
# construction quadratic-in-density) touch output explicitly via
# SPARK_GRAFT_ANCHOR_SLICES=bounded.  See plans/anchors.py.
_ATTR_SLICE = anchors.AnchorSlice("event_id", 100000, kind="gate")


@query(
    "attribution_linear_multitouch",
    oracle=f"""
    WITH ev AS (
      SELECT * FROM events WHERE {_ATTR_SLICE.sql}),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts, value
      FROM ev WHERE event_type = 'purchase'),
    clicks AS (
      SELECT event_id AS click_id, user_id, ts FROM ev
      WHERE event_type = 'click'),
    touches AS (
      SELECT p.purchase_id, p.value, c.click_id
      FROM purchases p JOIN clicks c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts
       AND c.ts > p.ts - TO_DAYS({_ATTR_WINDOW_DAYS})),
    counted AS (
      SELECT purchase_id, CAST(COUNT(*) AS BIGINT) AS n_touch
      FROM touches GROUP BY purchase_id)
    SELECT t.purchase_id, t.click_id, n.n_touch,
           t.value / n.n_touch AS credit
    FROM touches t JOIN counted n USING (purchase_id)
    """,
)
def attribution_linear_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click in the {3} days before
    a purchase shares the purchase value equally — the marketing-science
    counterpart of the last-touch as-of join (``join_asof_last_click``
    gives 100% to one click; this splits credit across the touchpath).

    Determinism: touch membership is exact timestamp comparisons; credit
    is ONE double division of a raw value by an exact count, emitted
    UNROUNDED: IEEE division is correctly rounded, so the two engines'
    doubles are bit-identical, whereas ROUND(double, 6) is the seed-11/16
    tie class in a new costume — Spark rounds the SHORTEST DECIMAL REPR
    half-up while DuckDB rounds the binary value, and fuzz seed 23 landed
    value/2 exactly on a 7th-decimal 5 (65.0863005 -> 65.086301 vs
    65.0863).  A cosmetic round on an already-deterministic double only
    ADDS divergence risk.

    Scale: the touch join keeps the EQUI component (user_id) with the
    time band as a residual predicate — hash join, never a nested loop
    (the ``interval_join_condition`` discipline, plan-pinned for the
    interval family); the per-purchase count joins back on the purchase
    key, reusing the partitioning.

    Default semantics are CORPUS-WIDE.  The adversarial ~sf1 deep sweep
    (whose 10x duplicate amplification makes the touch output — quadratic
    in per-user event density by construction — exceed the comparator row
    cap) applies an explicit ``event_id < 100000`` slice via
    ``SPARK_GRAFT_ANCHOR_SLICES=bounded``; at every driver fixture scale
    that slice is a superset of the data, so both modes agree there.  See
    ``plans/anchors.py``.
    """
    e = _ATTR_SLICE.apply(load_table(spark, sf_dir, "events"))
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    touches = purchases.join(clicks, "user_id").filter(
        (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            > F.col("p_ts") - F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS")
        )
    )
    counted = touches.groupBy("purchase_id").agg(
        F.count("*").cast("bigint").alias("n_touch")
    )
    return (
        touches.join(counted, "purchase_id")
        .select(
            "purchase_id",
            "click_id",
            "n_touch",
            (F.col("value") / F.col("n_touch")).alias("credit"),
        )
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival curve (time to churn)
# --------------------------------------------------------------------------

_CHURN_GAP_HOURS = 24
_US_PER_HOUR = 3_600_000_000


@query(
    "survival_kaplan_meier",
    oracle=f"""
    WITH span AS (
      SELECT user_id,
             CAST(FLOOR((EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)))
                        / {_US_PER_HOUR}.0) AS BIGINT) AS duration,
             MAX(ts) AS last_t
      FROM events GROUP BY user_id),
    horizon AS (SELECT MAX(ts) AS h FROM events),
    obs AS (
      SELECT duration,
             CASE WHEN last_t < (SELECT h FROM horizon)
                              - TO_HOURS({_CHURN_GAP_HOURS})
                  THEN 1 ELSE 0 END AS churned
      FROM span),
    n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM obs),
    ev AS (
      SELECT duration AS t,
             CAST(SUM(churned) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM obs GROUP BY duration),
    risk AS (
      SELECT t, d,
             (SELECT n FROM n_tot)
               - COALESCE(SUM(leaving) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
      FROM ev),
    km AS (
      -- total-churn guard (fuzz seed 2): when the LAST at-risk group all
      -- churns, 1 - d/n_risk = 0 and LN(0) errors (DuckDB) / NULLs
      -- (Spark).  That step can only be the final event time (nobody is
      -- left at risk after it), so it splits off exactly: S(t) = 0 there,
      -- and the LN-sum branch runs over the strictly-positive factors.
      SELECT t, d, CAST(n_risk AS BIGINT) AS n_risk,
             ROUND(EXP(CAST(SUM(CAST(LN(1.0 - CAST(d AS DOUBLE) / n_risk)
                                 AS DECIMAL(28,12)))
                        OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                        AS DOUBLE)), 6) AS survival
      FROM risk WHERE d > 0 AND d < n_risk

      UNION ALL

      SELECT t, d, CAST(n_risk AS BIGINT) AS n_risk, CAST(0 AS DOUBLE)
      FROM risk WHERE d > 0 AND d = n_risk)
    SELECT t AS hour, d AS n_churned, n_risk, survival FROM km
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for user lifetime: duration = active
    span in HOURS, churn = no activity within {24} hours of the corpus
    horizon (others right-censored), S(t) = Π (1 - d_i/n_i) over churn
    hours — THE retention-survival estimator (handles censoring
    correctly, which naive "percent still active" curves do not).  Hours,
    not days, because the fixtures span one month with intra-day churn.

    Determinism: durations are exact integer hour floors of epoch-µs
    differences; the KM product is EXP of a cumulative sum of per-step LN
    terms — each term one IEEE double from identical integers, the
    cumulative sum DECIMAL(28,12)-cast (order-fixed by the hour window),
    final S(t) rounded once.

    Scale: events collapse to per-user spans (one user-keyed aggregate);
    the KM table is |distinct durations|-sized — windows run over that
    summary, never the event stream; horizon/total are 1-row broadcasts.
    """
    e = load_table(spark, sf_dir, "events")
    span = e.groupBy("user_id").agg(
        F.floor(
            (F.unix_micros(F.max("ts").cast("timestamp"))
             - F.unix_micros(F.min("ts").cast("timestamp")))
            / F.lit(float(_US_PER_HOUR))
        ).cast("bigint").alias("duration"),
        F.max("ts").alias("last_t"),
    )
    horizon = e.agg(F.max("ts").alias("h"))
    obs = span.crossJoin(F.broadcast(horizon)).select(
        "duration",
        F.when(
            F.col("last_t")
            < F.col("h") - F.expr(f"INTERVAL {_CHURN_GAP_HOURS} HOURS"),
            1,
        )
        .otherwise(0)
        .alias("churned"),
    )
    n_tot = obs.agg(F.count("*").cast("bigint").alias("n"))
    ev = obs.groupBy(F.col("duration").alias("t")).agg(
        F.sum("churned").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("leaving"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = ev.crossJoin(F.broadcast(n_tot)).select(
        "t",
        "d",
        (
            F.col("n")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # total-churn guard (fuzz seed 2): the step where EVERYONE at risk
    # churns has factor 0 — LN would NULL/error; it can only be the final
    # event time, so it splits off exactly with S(t) = 0 while the LN-sum
    # branch keeps strictly-positive factors (mirrors the oracle).
    ln_term = F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"))
    km = risk.filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk"))).select(
        F.col("t").alias("hour"),
        F.col("d").alias("n_churned"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.round(
            F.exp(
                F.sum(ln_term.cast("decimal(28,12)")).over(w_cum).cast("double")
            ),
            6,
        ).alias("survival"),
    )
    km_zero = risk.filter((F.col("d") > 0) & (F.col("d") == F.col("n_risk"))).select(
        F.col("t").alias("hour"),
        F.col("d").alias("n_churned"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.lit(0.0).alias("survival"),
    )
    return km.unionByName(km_zero)


# --------------------------------------------------------------------------
# Model gains / lift table
# --------------------------------------------------------------------------


@query(
    "model_gains_table",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             CAST(n_chars AS DOUBLE) AS score,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
      FROM documents),
    deciled AS (
      SELECT y, NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
      FROM scored),
    agg AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM deciled GROUP BY decile),
    tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS total_pos,
                   CAST(SUM(n) AS BIGINT) AS total_n FROM agg)
    SELECT a.decile, a.n, a.n_pos,
           CAST(SUM(a.n_pos) OVER (ORDER BY a.decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
           ROUND(CAST(SUM(a.n_pos) OVER (ORDER BY a.decile
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / (SELECT total_pos FROM tot), 6) AS capture_rate,
           ROUND((CAST(a.n_pos AS DOUBLE) / a.n)
                 / (CAST((SELECT total_pos FROM tot) AS DOUBLE)
                    / (SELECT total_n FROM tot)), 6) AS lift
    FROM agg a
    """,
)
def model_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains / lift table: rank rows by model score (the length proxy
    plays the scorer, parity with `quality_ranker_auc`'s label rule
    doc_id%3), cut into score deciles, and report per-decile positives,
    cumulative capture rate, and lift over the base rate — the
    targeting-efficiency readout every campaign/filter model ships with
    (AUC says "can it rank"; the gains table says "what do the top 20%
    buy you").

    Determinism: NTILE over a deterministic total order; counts exact;
    the two ratios are rounded divisions of identical integers.

    Scale: the decile cut is a global NTILE over the scored relation, so
    it runs through operators/rank.py's ``global_ntile`` with a
    NEGATED-score uniform bucket (the order is score DESC, so the
    monotone coarse key is ``width_bucket(-score, ...)``): one hash
    shuffle, no single-partition stage; everything after is a 10-key
    aggregate plus a 10-row window.
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("score"),
        F.when(F.col("doc_id") % 3 == 0, 1).otherwise(0).alias("y"),
        (-F.col("n_chars").cast("double")).alias("_negscore"),
    )
    deciled = global_ntile(
        with_uniform_key_buckets(scored, "_negscore", nulls="last"),
        10,
        [F.col("score").desc(), F.col("doc_id").asc()],
        F.col("_gbk"),
        bucket_col="decile",
    ).select("y", "decile")
    agg = deciled.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    tot = agg.agg(
        F.sum("n_pos").cast("bigint").alias("total_pos"),
        F.sum("n").cast("bigint").alias("total_n"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "n_pos",
            F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
            F.round(
                F.sum("n_pos").over(w).cast("double") / F.col("total_pos"), 6
            ).alias("capture_rate"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n"))
                / (F.col("total_pos").cast("double") / F.col("total_n")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Week-over-week change
# --------------------------------------------------------------------------


@query(
    "weekly_wow_change",
    oracle="""
    WITH weekly AS (
      SELECT event_type, DATE_TRUNC('week', CAST(ts AS DATE)) AS week,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS val_dec
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, week, n,
             CAST(ROUND(val_dec, 4) AS DOUBLE) AS total_value,
             LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
      FROM weekly)
    SELECT event_type, week, n, total_value,
           CAST(prev_n AS BIGINT) AS prev_n,
           ROUND(CAST(n - prev_n AS DOUBLE) / prev_n, 6) AS wow_change
    FROM seq WHERE prev_n IS NOT NULL
    """,
)
def weekly_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: weekly counts and exact-
    decimal value totals with the relative change vs the prior week — the
    first derivative every metrics dashboard renders next to the raw
    series (and the alert input "signups down 30% WoW").

    Determinism: week truncation on dates, exact counts, decimal value
    sums rounded once; the change is a single division of exact integers.

    Scale: events collapse to the (type × week) aggregate first; the LAG
    window runs over that calendar-sized summary partitioned by type.
    """
    e = load_table(spark, sf_dir, "events")
    weekly = e.groupBy(
        "event_type", F.date_trunc("week", F.to_date("ts")).alias("week")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("val_dec"),
    )
    w = Window.partitionBy("event_type").orderBy("week")
    seq = weekly.select(
        "event_type",
        F.to_date("week").alias("week"),
        "n",
        F.round("val_dec", 4).cast("double").alias("total_value"),
        F.lag("n").over(w).alias("prev_n"),
    )
    return seq.filter(F.col("prev_n").isNotNull()).select(
        "event_type",
        "week",
        "n",
        "total_value",
        F.col("prev_n").cast("bigint").alias("prev_n"),
        F.round(
            (F.col("n") - F.col("prev_n")).cast("double") / F.col("prev_n"), 6
        ).alias("wow_change"),
    )


# --------------------------------------------------------------------------
# Period-over-period delta contribution
# --------------------------------------------------------------------------


@query(
    "period_delta_contribution",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation_name,
             SUM(CASE WHEN EXTRACT(MONTH FROM o.o_orderdate) = 1
                      THEN CAST(o.o_totalprice AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS rev_p1,
             SUM(CASE WHEN EXTRACT(MONTH FROM o.o_orderdate) = 2
                      THEN CAST(o.o_totalprice AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS rev_p2
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE EXTRACT(MONTH FROM o.o_orderdate) IN (1, 2)
        AND EXTRACT(YEAR FROM o.o_orderdate)
            = (SELECT MIN(EXTRACT(YEAR FROM o_orderdate)) FROM orders)
      GROUP BY 1),
    tot AS (SELECT SUM(rev_p2 - rev_p1) AS total_delta FROM rev)
    SELECT nation_name,
           CAST(ROUND(rev_p1, 4) AS DOUBLE) AS rev_p1,
           CAST(ROUND(rev_p2, 4) AS DOUBLE) AS rev_p2,
           CAST(ROUND(rev_p2 - rev_p1, 4) AS DOUBLE) AS delta,
           ROUND(CAST(rev_p2 - rev_p1 AS DOUBLE)
                 / CAST((SELECT total_delta FROM tot) AS DOUBLE), 6)
               AS share_of_delta
    FROM rev
    """,
)
def period_delta_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period delta decomposition: each nation's January vs
    February revenue (first fixture year), the change, and its share of
    the TOTAL company change — the waterfall/bridge table FP&A builds to
    answer "which segment drove the move" (shares sum to 1 by
    construction, sign-aware).

    Determinism: both period totals are exact conditional DECIMAL sums in
    ONE pass (no two-scan diff); delta stays decimal until the rounded
    emission; the share divides exact decimals cast to double once.

    Scale: one conditional aggregate on the nation key (dimension joins
    broadcast), a 1-row total-delta broadcast — the fact table is scanned
    once, shuffled once.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    year0 = o.agg(F.min(F.year("o_orderdate")).alias("y0"))
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .crossJoin(F.broadcast(year0))
        .filter(
            (F.year("o_orderdate") == F.col("y0"))
            & F.month("o_orderdate").isin(1, 2)
        )
    )
    dec0 = F.lit(0).cast("decimal(18,4)")
    rev = base.groupBy(F.col("n_name").alias("nation_name")).agg(
        F.sum(
            F.when(
                F.month("o_orderdate") == 1,
                F.col("o_totalprice").cast("decimal(18,4)"),
            ).otherwise(dec0)
        ).alias("rev_p1"),
        F.sum(
            F.when(
                F.month("o_orderdate") == 2,
                F.col("o_totalprice").cast("decimal(18,4)"),
            ).otherwise(dec0)
        ).alias("rev_p2"),
    )
    tot = rev.agg(F.sum(F.col("rev_p2") - F.col("rev_p1")).alias("total_delta"))
    return rev.crossJoin(F.broadcast(tot)).select(
        "nation_name",
        F.round("rev_p1", 4).cast("double").alias("rev_p1"),
        F.round("rev_p2", 4).cast("double").alias("rev_p2"),
        F.round(F.col("rev_p2") - F.col("rev_p1"), 4)
        .cast("double")
        .alias("delta"),
        # try_divide: the two periods can net to EXACTLY zero total delta
        # (fuzz seed 3: tie-heavy fixture prices) — the share of nothing is
        # NULL, not an ANSI abort; DuckDB's x/0 is NULL on the oracle side
        F.round(
            F.try_divide(
                (F.col("rev_p2") - F.col("rev_p1")).cast("double"),
                F.col("total_delta").cast("double"),
            ),
            6,
        ).alias("share_of_delta"),
    )


# --------------------------------------------------------------------------
# New vs returning users per day
# --------------------------------------------------------------------------


@query(
    "new_vs_returning_daily",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    f AS (SELECT user_id, MIN(d) AS first_d FROM ud GROUP BY user_id)
    SELECT ud.d AS day,
           CAST(SUM(CASE WHEN ud.d = f.first_d THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users,
           CAST(SUM(CASE WHEN ud.d > f.first_d THEN 1 ELSE 0 END) AS BIGINT)
               AS returning_users
    FROM ud JOIN f USING (user_id)
    GROUP BY ud.d
    """,
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New vs returning active users per day: a user's first-activity day
    counts them as new, every later active day as returning — the growth
    split every DAU chart is stacked by (acquisition vs engagement).

    Scale: the distinct (user, day) collapse, one user-keyed min, an
    equi-join back on the same user key (partitioning reused), and a
    day-keyed conditional count — no windows, all map-side combining.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    f = ud.groupBy("user_id").agg(F.min("d").alias("first_d"))
    return (
        ud.join(f, "user_id")
        .groupBy(F.col("d").alias("day"))
        .agg(
            F.sum(F.when(F.col("d") == F.col("first_d"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("d") > F.col("first_d"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning_users"),
        )
    )


# --------------------------------------------------------------------------
# Attribution-window sensitivity sweep
# --------------------------------------------------------------------------

_ATTR_WINDOWS_H = (1, 6, 24, 72)


@query(
    "attribution_window_sensitivity",
    oracle=f"""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    matched AS (
      SELECT p.event_id, p.ts, c.ts AS click_ts
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM purchases),
    w AS (SELECT UNNEST(ARRAY{list(_ATTR_WINDOWS_H)}) AS window_h)
    SELECT w.window_h,
           CAST(SUM(CASE WHEN m.click_ts IS NOT NULL
                     AND m.click_ts > m.ts - TO_HOURS(w.window_h)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
           ROUND(CAST(SUM(CASE WHEN m.click_ts IS NOT NULL
                          AND m.click_ts > m.ts - TO_HOURS(w.window_h)
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / (SELECT n FROM tot), 6) AS attribution_rate
    FROM matched m, w
    GROUP BY w.window_h
    """,
)
def attribution_window_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window sensitivity: for each candidate lookback window,
    how many purchases get click-attributed and at what rate — the sweep
    marketing runs BEFORE fixing the attribution window (the policy twin
    of ``watermark_loss_curve``: both turn "pick a constant" into a
    measured curve).  Because last-touch attribution only needs the
    NEAREST preceding click, one as-of join answers every window — the
    gap is compared against each candidate, so 4 windows cost one pass.

    Determinism: the as-of match is the deduped-latest-click convention
    of ``join_asof_last_click``; lateness per window is an exact
    timestamp comparison; counts exact, one rounded rate.

    Scale: one union-sort-window as-of join (single user-keyed shuffle),
    a constant 4-way explode of the purchase-sized match table, and a
    1-row total broadcast.
    """
    from lms_etl_pipeline_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    matched = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["click_id"],
    )
    tot = purchases.agg(F.count("*").cast("bigint").alias("n"))
    windows = F.explode(
        F.array(*[F.lit(h) for h in _ATTR_WINDOWS_H])
    ).alias("window_h")
    sweep = matched.select("ts", F.col("asof_ts").alias("click_ts"), windows)
    hit = F.when(
        F.col("click_ts").isNotNull()
        & (
            F.col("click_ts")
            > F.col("ts") - F.col("window_h") * F.expr("INTERVAL 1 HOUR")
        ),
        1,
    ).otherwise(0)
    return (
        sweep.groupBy("window_h")
        .agg(F.sum(hit).cast("bigint").alias("n_attributed"))
        .crossJoin(F.broadcast(tot))
        .select(
            "window_h",
            "n_attributed",
            F.round(
                F.col("n_attributed").cast("double") / F.col("n"), 6
            ).alias("attribution_rate"),
        )
    )


# --------------------------------------------------------------------------
# Session bounce / dwell metrics
# --------------------------------------------------------------------------

_SESS_GAP_US = 30 * 60 * 1_000_000


@query(
    "session_bounce_dwell",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w > {_SESS_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_id
      FROM o)
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS dwell_us,
           COUNT(*) = 1 AS is_bounce
    FROM s GROUP BY user_id, session_id
    """,
)
def session_bounce_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session engagement metrics over the 30-minute gap-rule
    sessions: event count, dwell time in exact epoch microseconds, and
    the bounce flag (single-event session) — the bounce-rate / dwell-time
    table every web-analytics report aggregates from
    (``events_sessionize_gap`` assigns the ids; this is the metric layer
    on the same single-shuffle window pair).

    Determinism: integer microsecond arithmetic only; the bounce flag is
    an exact count comparison.

    Scale: identical plan shape to the sessionizer — two windows on one
    user_id partitioning, then a (user, session) hash aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.lag("ts").over(w).isNull() | (gap > _SESS_GAP_US), 1)
        .otherwise(0)
        .alias("new_s"),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.select(
        "user_id", "ts", F.sum("new_s").over(wc).cast("long").alias("session_id")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "dwell_us"
        ),
        (F.count("*") == 1).alias("is_bounce"),
    )


# --------------------------------------------------------------------------
# Inter-arrival time statistics
# --------------------------------------------------------------------------


@query(
    "interarrival_time_stats",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             EPOCH_US(ts) - LAG(EPOCH_US(ts))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events),
    g AS (
      SELECT event_type, gap_us,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY gap_us, event_type) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM seq WHERE gap_us IS NOT NULL),
    br AS (
      SELECT event_type, n,
             MAX(CASE WHEN rn = ((n-1) * 5) // 10 THEN gap_us END) AS lo5,
             MAX(CASE WHEN rn = ((n-1) * 5 + 9) // 10 THEN gap_us END) AS hi5,
             MAX(CASE WHEN rn = ((n-1) * 9) // 10 THEN gap_us END) AS lo9,
             MAX(CASE WHEN rn = ((n-1) * 9 + 9) // 10 THEN gap_us END) AS hi9,
             MIN(gap_us) AS mn, MAX(gap_us) AS mx
      FROM g GROUP BY event_type, n)
    SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
           CAST(mn AS BIGINT) AS min_us,
           CAST(CAST(lo5 * (10 - ((n-1) * 5) % 10)
                     + hi5 * (((n-1) * 5) % 10) AS DECIMAL(38,0))
                / 10 AS DOUBLE) AS p50_us,
           CAST(CAST(lo9 * (10 - ((n-1) * 9) % 10)
                     + hi9 * (((n-1) * 9) % 10) AS DECIMAL(38,0))
                / 10 AS DOUBLE) AS p90_us,
           CAST(mx AS BIGINT) AS max_us
    FROM br
    """,
)
def interarrival_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: consecutive-event
    gaps in exact epoch microseconds with min/median/p90/max — the
    capacity-planning and rate-limit input ("how bursty is this stream"),
    and the empirical base for any Poisson-rate assumption a streaming
    watermark choice rests on (pairs with ``watermark_loss_curve``).

    Determinism (a fuzz-fixture finding): engine-native PERCENTILE_CONT
    interpolates in DOUBLE, and at microsecond-gap magnitudes (~1e12) the
    double ulp (~2.4e-4) EXCEEDS the 4-dp rounding the repo convention
    relies on — seed-0 of tools/fuzz_fixture.py produced a last-ulp
    cross-engine mismatch.  Both sides now compute the PERCENTILE_CONT
    definition exactly: bracketing order statistics at floor/ceil of
    (n-1)q via row_number (q in tenths, so the interpolation weight is
    an integer 0..9), interpolated in EXACT integer/decimal arithmetic
    — (lo*(10-w) + hi*w) / 10 — with one exact decimal->double cast.

    Scale: one window partitioned on the bounded event_type key (sorts
    within type), then a second type-partitioned rank window over the
    gaps and a map-side-combining aggregate per type.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        (
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap_us", "event_type")
    wn = Window.partitionBy("event_type")
    g = seq.select(
        "event_type",
        "gap_us",
        (F.row_number().over(wr) - 1).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    def _pick(expr):
        return F.max(F.when(expr, F.col("gap_us")))
    br = g.groupBy("event_type", "n").agg(
        _pick(F.col("rn") == F.expr("((n-1) * 5) DIV 10")).alias("lo5"),
        _pick(F.col("rn") == F.expr("((n-1) * 5 + 9) DIV 10")).alias("hi5"),
        _pick(F.col("rn") == F.expr("((n-1) * 9) DIV 10")).alias("lo9"),
        _pick(F.col("rn") == F.expr("((n-1) * 9 + 9) DIV 10")).alias("hi9"),
        F.min("gap_us").alias("mn"),
        F.max("gap_us").alias("mx"),
    )
    return br.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.col("mn").cast("bigint").alias("min_us"),
        F.expr(
            "CAST(CAST(lo5 * (10 - ((n-1) * 5) % 10) + hi5 * (((n-1) * 5) % 10)"
            " AS DECIMAL(38,0)) / 10 AS DOUBLE)"
        ).alias("p50_us"),
        F.expr(
            "CAST(CAST(lo9 * (10 - ((n-1) * 9) % 10) + hi9 * (((n-1) * 9) % 10)"
            " AS DECIMAL(38,0)) / 10 AS DOUBLE)"
        ).alias("p90_us"),
        F.col("mx").cast("bigint").alias("max_us"),
    )
