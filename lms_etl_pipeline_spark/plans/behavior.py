"""Behavioral / recommender analytics plans.

Composites product-analytics and recommendation teams run daily that
were not yet first-class.  The first wave:

- **item-item collaborative filtering** (``item_cooccurrence_cf``) — parts
  scored similar by customer co-purchase cosine, top-k per item: the
  classic "customers who bought X also bought" candidate generator
  (Amazon-style item-based CF over binary incidence vectors);
- **Markov transition matrix** (``event_transition_matrix``) — per-user
  event-type transition counts + row-normalized probabilities: the
  behavioral flow map behind path analysis and next-action prediction;
- **cohort LTV curve** (``cohort_ltv_curve``) — cumulative purchase value
  by acquisition cohort and day offset, with per-user LTV: the
  growth-finance twin of the retention triangle;
- **funnel time-to-convert** (``funnel_time_to_convert``) — per-user
  stage-gap durations for the strict view→click→purchase funnel, in exact
  epoch-microsecond integers.

Later waves in this module: HITS hubs/authorities, forward as-of join,
2-D Pareto front, A/B experiment readout, share-of-parent rollup,
DAU/WAU/MAU rolling counters, and top event-trigram paths.

Reference parity note: the reference (`/root/reference/src/lms_to_s3_lambda.py`,
`src/s3_to_rds_lambda.py`) is a 2-file pandas ETL with no analytics layer;
these extend the driver-mandated SURVEY.md §2.12 engine surface.

Determinism: counts/durations are exact integers, money goes through
exact DECIMAL sums (``functions/numeric.py``), emitted ratios are single
rounded double divisions of identical exact operands.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators.graph import order_flow_edges, order_flow_edges_sql
from lms_etl_pipeline_spark.operators.rank import (
    global_ntile,
    global_running_agg,
    with_uniform_key_buckets,
)
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.session import materialize
from lms_etl_pipeline_spark.sources.tables import load_table


def ab_arm() -> Column:
    """The A/B experiment split: a user's arm (0 or 1) is the salted
    ``hash60`` of its id, so both engines assign every user identically."""
    return tx.hash60(F.concat(F.lit("ab1|"), F.col("user_id").cast("string"))) % 2


#: DuckDB twin of ``ab_arm``.
AB_ARM_SQL = tx.hash60_sql("CONCAT('ab1|', CAST(user_id AS VARCHAR))") + " % 2"

_CF_BASKET_CAP = 50   # drop power-customers above this many distinct parts
_CF_MIN_COOC = 3      # minimum co-purchase support for a candidate pair
_CF_TOPK = 5


@query(
    "item_cooccurrence_cf",
    oracle=f"""
    WITH cp AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    sz AS (SELECT o_custkey, COUNT(*) AS basket FROM cp GROUP BY o_custkey),
    kept AS (
      SELECT cp.o_custkey, cp.l_partkey FROM cp
      JOIN sz ON sz.o_custkey = cp.o_custkey AND sz.basket <= {_CF_BASKET_CAP}),
    item_n AS (SELECT l_partkey, COUNT(*) AS n FROM kept GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_ab
      FROM kept a JOIN kept b
        ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_CF_MIN_COOC}),
    directed AS (
      SELECT p1 AS item, p2 AS other, n_ab FROM pairs
      UNION ALL SELECT p2, p1, n_ab FROM pairs),
    scored AS (
      SELECT d.item, d.other, CAST(d.n_ab AS BIGINT) AS n_ab,
             ROUND(CAST(d.n_ab AS DOUBLE) / SQRT(CAST(na.n AS DOUBLE) * nb.n), 6)
                 AS cosine
      FROM directed d
      JOIN item_n na ON na.l_partkey = d.item
      JOIN item_n nb ON nb.l_partkey = d.other),
    ranked AS (
      SELECT item, other, n_ab, cosine,
             ROW_NUMBER() OVER (PARTITION BY item
                                ORDER BY cosine DESC, other) AS rk
      FROM scored)
    SELECT item, other, n_ab, cosine, rk FROM ranked WHERE rk <= {_CF_TOPK}
    """,
)
def item_cooccurrence_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative filtering: for every part, the top-{5}
    most-similar parts by customer co-purchase cosine
    n_ab / sqrt(n_a·n_b) over binary customer-incidence vectors — the
    "customers who bought X also bought" candidate generator
    (Linden et al. 2003, item-to-item CF).

    Scale: pairing is an EQUI-join of baskets on the customer key, so work
    is Σ basket², not catalog²; the basket cap (≤ {50} distinct parts,
    power-customers dropped — the standard CF hygiene rule, documented
    semantics not an approximation) makes per-key work O(cap²)-bounded so
    no customer can quadratically dominate a partition.  Min-support
    prunes the pair table before the similarity join; per-item top-k is a
    window on the ITEM key.  The item_n side joins are broadcastable
    (catalog-sized).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cp = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    sz = cp.groupBy("o_custkey").agg(F.count("*").alias("basket"))
    # Materialize the capped incidence frame — FOUR consumers
    # (item_n, both self-join sides, via `directed` twice) otherwise each
    # re-run the orders⋈lineitem join + distinct + basket-cap semi-join
    # (guide §2.4; the self-join sides shared an exchange, item_n did not).
    kept = materialize(
        cp.join(
            sz.filter(F.col("basket") <= _CF_BASKET_CAP).select("o_custkey"),
            "o_custkey",
        )
    )
    item_n = kept.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a = kept.select("o_custkey", F.col("l_partkey").alias("p1"))
    b = kept.select("o_custkey", F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "o_custkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _CF_MIN_COOC)
    )
    directed = pairs.select(
        F.col("p1").alias("item"), F.col("p2").alias("other"), "n_ab"
    ).unionByName(
        pairs.select(
            F.col("p2").alias("item"), F.col("p1").alias("other"), "n_ab"
        )
    )
    na = item_n.select(F.col("l_partkey").alias("item"), F.col("n").alias("na"))
    nb = item_n.select(F.col("l_partkey").alias("other"), F.col("n").alias("nb"))
    scored = (
        directed.join(F.broadcast(na), "item")
        .join(F.broadcast(nb), "other")
        .select(
            "item",
            "other",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(
                F.col("n_ab").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(), "other")
    return scored.select(
        "item", "other", "n_ab", "cosine", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= _CF_TOPK)


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type),
    totals AS (SELECT prev_type, SUM(n) AS row_n FROM trans GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, CAST(t.n AS BIGINT) AS n,
           ROUND(CAST(t.n AS DOUBLE) / tt.row_n, 6) AS p
    FROM trans t JOIN totals tt USING (prev_type)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for every
    ordered (previous event type → next event type) pair, the transition
    count and row-normalized probability — the behavioral flow map behind
    path analysis, "next best action" features, and anomaly detection on
    session shape.

    Determinism: the sequence order is (ts, event_id) — a total order —
    so LAG is deterministic; counts exact; p is one rounded division.

    Scale: one window partitioned on user_id (the natural event-stream
    partitioning — single shuffle), a map-side-combining count on the
    bounded |types|² key space, and a broadcast row-total join.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n"))
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return trans.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("row_n"), 6).alias("p"),
    )


@query(
    "cohort_ltv_curve",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id),
    csize AS (SELECT cohort_day, COUNT(*) AS cohort_users
              FROM f GROUP BY cohort_day),
    pur AS (
      SELECT f.cohort_day,
             DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
             COUNT(*) AS n_purchases,
             SUM(CAST(e.value AS DECIMAL(18,6))) AS rev_dec
      FROM events e JOIN f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_day, day_offset, n_purchases,
             SUM(rev_dec) OVER (PARTITION BY cohort_day ORDER BY day_offset
                                ROWS UNBOUNDED PRECEDING) AS cum_dec,
             rev_dec
      FROM pur)
    SELECT c.cohort_day, CAST(c.day_offset AS BIGINT) AS day_offset,
           CAST(c.n_purchases AS BIGINT) AS n_purchases,
           CAST(ROUND(c.rev_dec, 4) AS DOUBLE) AS revenue,
           CAST(ROUND(c.cum_dec, 4) AS DOUBLE) AS cum_revenue,
           CAST(s.cohort_users AS BIGINT) AS cohort_users,
           ROUND(CAST(ROUND(c.cum_dec, 4) AS DOUBLE) / s.cohort_users, 6)
               AS ltv_per_user
    FROM cum c JOIN csize s USING (cohort_day)
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users bucketed by first-activity day,
    then per (cohort, day-offset) purchase count, revenue, running
    cumulative revenue, and cumulative LTV per cohort member — the
    growth-finance table payback-period decisions read from (the money
    twin of ``retention_cohorts``).

    Determinism: revenue is summed in exact DECIMAL, the running total is
    a window over the exact decimal, and both are rounded once at scale 4
    before the double cast; ltv divides that identical double by an exact
    integer.

    Scale: cohort assignment is one user-keyed min-aggregate joined back
    on the same key (partitioning reused); the curve aggregate is keyed by
    (cohort_day, offset) — bounded by days², not events; the running sum
    windows over the CURVE table (report-sized), not the event stream.
    """
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    csize = f.groupBy("cohort_day").agg(F.count("*").alias("cohort_users"))
    pur = (
        e.filter(F.col("event_type") == "purchase")
        .join(f, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.to_date("ts"), "cohort_day").alias("day_offset"),
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("rev_dec"),
        )
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = pur.select(
        "cohort_day",
        "day_offset",
        "n_purchases",
        "rev_dec",
        F.sum("rev_dec").over(w).alias("cum_dec"),
    )
    return cum.join(F.broadcast(csize), "cohort_day").select(
        "cohort_day",
        F.col("day_offset").cast("bigint").alias("day_offset"),
        F.col("n_purchases").cast("bigint").alias("n_purchases"),
        F.round("rev_dec", 4).cast("double").alias("revenue"),
        F.round("cum_dec", 4).cast("double").alias("cum_revenue"),
        F.col("cohort_users").cast("bigint").alias("cohort_users"),
        F.round(
            F.round("cum_dec", 4).cast("double") / F.col("cohort_users"), 6
        ).alias("ltv_per_user"),
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
    SELECT p.user_id,
           EPOCH_US(c.t2) - EPOCH_US(v.t1) AS us_view_to_click,
           EPOCH_US(p.t3) - EPOCH_US(c.t2) AS us_click_to_purchase,
           EPOCH_US(p.t3) - EPOCH_US(v.t1) AS us_total
    FROM p JOIN c ON c.user_id = p.user_id JOIN v ON v.user_id = p.user_id
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for full-funnel users: per user completing the
    strict view→click→purchase sequence, the stage-gap durations in exact
    epoch microseconds — the latency distribution behind "how long does
    conversion take" and funnel-SLA dashboards (detail-table complement of
    ``funnel_conversion``'s stage counts).

    Determinism: all columns are integer microsecond differences of
    exact MIN timestamps — no floats anywhere.

    Scale: identical chained user-keyed aggregate shape as
    ``funnel_conversion`` (one partitioning reused end-to-end); the final
    three-way join is on the same user key and frames only shrink.
    """
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        p.join(c, "user_id")
        .join(v, "user_id")
        .select(
            "user_id",
            (F.unix_micros("t2") - F.unix_micros("t1")).alias(
                "us_view_to_click"
            ),
            (F.unix_micros("t3") - F.unix_micros("t2")).alias(
                "us_click_to_purchase"
            ),
            (F.unix_micros("t3") - F.unix_micros("t1")).alias("us_total"),
        )
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities (2 unrolled iterations)
# --------------------------------------------------------------------------


@query(
    "hits_hubs_authorities",
    oracle=f"""
    WITH edges AS ({order_flow_edges_sql()}),
    a1 AS (SELECT dst AS node, CAST(COUNT(*) AS DOUBLE) AS a FROM edges
           GROUP BY dst),
    a1n AS (SELECT node, a / (SELECT SUM(CAST(a AS DECIMAL(38,12))) FROM a1)
                AS a FROM a1),
    h1 AS (
      SELECT e.src AS node,
             CAST(SUM(CAST(a1n.a AS DECIMAL(38,12))) AS DOUBLE) AS h
      FROM edges e JOIN a1n ON a1n.node = e.dst GROUP BY e.src),
    h1n AS (SELECT node, h / (SELECT CAST(SUM(CAST(h AS DECIMAL(38,12)))
                                     AS DOUBLE) FROM h1) AS h FROM h1),
    a2 AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(h1n.h AS DECIMAL(38,12))) AS DOUBLE) AS a
      FROM edges e JOIN h1n ON h1n.node = e.src GROUP BY e.dst),
    a2n AS (SELECT node, a / (SELECT CAST(SUM(CAST(a AS DECIMAL(38,12)))
                                     AS DOUBLE) FROM a2) AS a FROM a2)
    SELECT node, 'hub' AS role, ROUND(h, 8) AS score FROM h1n
    UNION ALL
    SELECT node, 'authority', ROUND(a, 8) FROM a2n
    """,
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs-and-authorities over the bipartite
    customer→supplier order-flow graph, two unrolled iterations with L1
    normalization: authority ← Σ hub over in-edges, hub ← Σ authority over
    out-edges.  The mutually-reinforcing-centrality complement of
    ``pagerank_graph`` (same edge table, different fixpoint) — the signal
    web-curation stacks compute next to PageRank for spam/quality triage.

    Determinism: iteration sums and the L1 normalizers are DECIMAL(38,12)-
    cast (order-independent); each normalization is one double division of
    identical operands; emitted scores rounded at scale 8.

    Scale: one iteration = edges ⋈ scores equi-join on one endpoint +
    map-side-combining sum on the other — edges partition once per
    direction and iterations reuse it; normalizers are 1-row broadcasts.
    Unrolled fixed iterations keep it a single declarative plan (the
    open-ended variant would ``session.materialize`` per iteration like
    ``operators/ml.pagerank``).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Materialize the edge list once — a1/h1/a2 AND every
    # normalizer broadcast build otherwise re-derive the
    # orders⋈lineitem+distinct subtree (same fix as pagerank_graph).
    edges = materialize(order_flow_edges(o, li))
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    a1 = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("double").alias("a")
    )
    s_a1 = a1.agg(F.sum(F.col("a").cast("decimal(38,12)")).alias("s"))
    a1n = a1.crossJoin(F.broadcast(s_a1)).select(
        "node", (F.col("a") / F.col("s")).alias("a")
    )
    h1 = (
        edges.join(a1n.withColumnRenamed("node", "dst"), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(dec(F.col("a")).alias("h"))
    )
    s_h1 = h1.agg(dec(F.col("h")).alias("s"))
    h1n = h1.crossJoin(F.broadcast(s_h1)).select(
        "node", (F.col("h") / F.col("s")).alias("h")
    )
    a2 = (
        edges.join(h1n.withColumnRenamed("node", "src"), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(dec(F.col("h")).alias("a"))
    )
    s_a2 = a2.agg(dec(F.col("a")).alias("s"))
    a2n = a2.crossJoin(F.broadcast(s_a2)).select(
        "node", (F.col("a") / F.col("s")).alias("a")
    )
    hubs = h1n.select(
        "node", F.lit("hub").alias("role"), F.round("h", 8).alias("score")
    )
    auths = a2n.select(
        "node", F.lit("authority").alias("role"), F.round("a", 8).alias("score")
    )
    return hubs.unionByName(auths)


# --------------------------------------------------------------------------
# Forward as-of join: time to next action
# --------------------------------------------------------------------------


@query(
    "join_asof_next_purchase",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, MIN(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
    clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS asof_ts, p.purchase_id
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def join_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click matched to the same user's EARLIEST
    purchase at-or-after it — the "time to next action" primitive
    (conversion-latency attribution, next-maintenance-window lookup),
    completing the as-of family next to the backward
    ``join_asof_last_click``.

    Implementation is the same union–sort–window idiom
    (``operators.temporal.asof_join``) scanning the per-key timeline
    DESCENDING: one shuffle on user_id, no range-candidate explosion.
    The right side is deduped on (key, ts) with MIN(event_id) so ties are
    deterministic on both engines.
    """
    from lms_etl_pipeline_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("purchase_id"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["purchase_id"],
        direction="forward",
    )


# --------------------------------------------------------------------------
# 2-D Pareto front (skyline)
# --------------------------------------------------------------------------


@query(
    "pareto_front_2d",
    oracle="""
    WITH per_price AS (
      SELECT o_totalprice, MAX(o_orderdate) AS dmax
      FROM orders GROUP BY o_totalprice),
    ranked AS (
      SELECT o_totalprice, dmax,
             MAX(dmax) OVER (ORDER BY o_totalprice
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS mprev
      FROM per_price)
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM orders o JOIN ranked r ON r.o_totalprice = o.o_totalprice
    WHERE NOT (COALESCE(r.mprev >= o.o_orderdate, FALSE)
               OR r.dmax > o.o_orderdate)
    """,
)
def pareto_front_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto front (skyline operator): the non-dominated orders under
    (minimize price, maximize recency) — an order is dominated if another
    is at most as expensive AND at least as recent, strictly better in one.
    The classic multi-criteria shortlist ("cheapest-and-freshest") that
    SQL engines without a SKYLINE keyword express exactly this way.

    Implementation: collapse to one row per distinct price (MAX date),
    one running-max window over the price-ordered summary gives the best
    date among STRICTLY cheaper rows, and dominance is two exact
    comparisons — O(n log n) total, versus the naive quadratic
    self-join.  Determinism: raw-value comparisons only, no arithmetic.

    Scale: the window runs over the DISTINCT-PRICE summary, not the order
    table — but that summary still grows with the value domain, so the
    running max uses the two-stage prefix pattern FOR REAL
    (operators/rank.py ``global_running_agg`` with max over
    ``with_uniform_key_buckets(o_totalprice)``): partitioned within-bucket
    prefix maxima + a <=66-row broadcast bucket-prefix table, no
    single-partition stage.
    """
    o = load_table(spark, sf_dir, "orders")
    per_price = with_uniform_key_buckets(
        o.groupBy("o_totalprice").agg(F.max("o_orderdate").alias("dmax")),
        "o_totalprice",
    )
    ranked = global_running_agg(
        per_price,
        "dmax",
        [F.col("o_totalprice").asc()],
        F.col("_gbk"),
        out_col="mprev",
        agg="max",
        inclusive=False,
    ).select("o_totalprice", "dmax", "mprev")
    dominated = F.coalesce(
        F.col("mprev") >= F.col("o_orderdate"), F.lit(False)
    ) | (F.col("dmax") > F.col("o_orderdate"))
    return (
        o.join(ranked, "o_totalprice")
        .filter(~dominated)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


# --------------------------------------------------------------------------
# A/B test lift report
# --------------------------------------------------------------------------


@query(
    "ab_test_lift_report",
    oracle=f"""
    WITH assign AS (
      SELECT DISTINCT user_id,
             CASE WHEN {AB_ARM_SQL} = 0 THEN 'A' ELSE 'B' END AS variant
      FROM events),
    per_user AS (
      SELECT a.user_id, a.variant,
             COALESCE(p.spend, CAST(0 AS DECIMAL(18,6))) AS spend
      FROM assign a LEFT JOIN (
        SELECT user_id, SUM(CAST(value AS DECIMAL(18,6))) AS spend
        FROM events WHERE event_type = 'purchase' GROUP BY user_id) p
      ON a.user_id = p.user_id),
    cells AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(spend) AS DOUBLE) AS s1,
             CAST(SUM(spend * spend) AS DOUBLE) AS s2
      FROM per_user GROUP BY variant),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 'A' THEN n END) AS n_a,
        MAX(CASE WHEN variant = 'A' THEN s1 END) AS s1_a,
        MAX(CASE WHEN variant = 'A' THEN s2 END) AS s2_a,
        MAX(CASE WHEN variant = 'B' THEN n END) AS n_b,
        MAX(CASE WHEN variant = 'B' THEN s1 END) AS s1_b,
        MAX(CASE WHEN variant = 'B' THEN s2 END) AS s2_b
      FROM wide_src),
    wide_src AS (SELECT * FROM cells)
    SELECT n_a, n_b,
           ROUND(s1_a / n_a, 6) AS mean_a,
           ROUND(s1_b / n_b, 6) AS mean_b,
           ROUND(s1_b / n_b / (s1_a / n_a) - 1, 6) AS lift,
           ROUND((s1_b / n_b - s1_a / n_a)
                 / SQRT(((s2_a - s1_a * s1_a / n_a) / (n_a - 1)) / n_a
                        + ((s2_b - s1_b * s1_b / n_b) / (n_b - 1)) / n_b), 4)
               AS z_stat
    FROM wide
    """,
)
def ab_test_lift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout on a CONTINUOUS metric: users
    deterministically hash-assigned to two arms (salted md5 — the
    reproducible, engine-portable bucketing experimentation platforms use
    instead of rand()), per-arm mean purchase spend per user, relative
    lift, and the Welch two-sample z statistic — the growth-team
    experiment report (here a synthetic A/A split, so lift ≈ 0 and |z|
    small, exactly what an A/A sanity run should show; a binary
    conversion readout is degenerate on these fixtures because every
    user purchases).

    Determinism: per-user spend and both moment sums are exact DECIMAL;
    means/variances/z are IEEE arithmetic over identical doubles, rounded.

    Scale: one user-keyed aggregate + a 2-key rollup of decimal moments
    (mergeable, map-side combining) — no windows, no skew exposure
    beyond the user key.
    """
    e = load_table(spark, sf_dir, "events")
    assign = e.select("user_id").distinct().select(
        "user_id", F.when(ab_arm() == 0, "A").otherwise("B").alias("variant")
    )
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("spend"))
    )
    per_user = assign.join(spend, "user_id", "left").select(
        "variant",
        F.coalesce("spend", F.lit(0).cast("decimal(18,6)")).alias("spend"),
    )
    cells = per_user.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("spend").cast("double").alias("s1"),
        F.sum(F.col("spend") * F.col("spend")).cast("double").alias("s2"),
    )
    wide = cells.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("s1"))).alias("s1_a"),
        F.max(F.when(F.col("variant") == "A", F.col("s2"))).alias("s2_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("s1"))).alias("s1_b"),
        F.max(F.when(F.col("variant") == "B", F.col("s2"))).alias("s2_b"),
    )
    # try_divide throughout: a single-user arm (n=1) zeroes the n-1
    # variance denominator, and a missing arm NULLs its count — degenerate
    # experiments must report NULL statistics, not ANSI-abort the job
    # (found by the n=1 fixture sweep; tests/test_degenerate_fixture.py).
    ma = F.try_divide(F.col("s1_a"), F.col("n_a"))
    mb = F.try_divide(F.col("s1_b"), F.col("n_b"))
    va = F.try_divide(
        F.col("s2_a") - F.try_divide(F.col("s1_a") * F.col("s1_a"), F.col("n_a")),
        F.col("n_a") - 1,
    )
    vb = F.try_divide(
        F.col("s2_b") - F.try_divide(F.col("s1_b") * F.col("s1_b"), F.col("n_b")),
        F.col("n_b") - 1,
    )
    return wide.select(
        "n_a",
        "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(F.try_divide(mb, ma) - 1, 6).alias("lift"),
        F.round(
            F.try_divide(
                mb - ma,
                F.sqrt(
                    F.try_divide(va, F.col("n_a")) + F.try_divide(vb, F.col("n_b"))
                ),
            ),
            4,
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Share-of-parent rollup (ratio_to_report)
# --------------------------------------------------------------------------


@query(
    "share_of_parent_rollup",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region_name, n.n_name AS nation_name,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev_dec
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2)
    SELECT region_name, nation_name,
           CAST(ROUND(rev_dec, 4) AS DOUBLE) AS revenue,
           ROUND(CAST(rev_dec AS DOUBLE)
                 / CAST(SUM(rev_dec) OVER (PARTITION BY region_name)
                        AS DOUBLE), 6) AS share_of_region
    FROM rev
    """,
)
def share_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent contribution analysis (the RATIO_TO_REPORT idiom):
    each nation's revenue as a fraction of its region's total — the
    hierarchy-percentage view every BI drill-down renders next to the raw
    rollup (`agg_rollup` gives the totals; this gives the mix).

    Determinism: revenue stays in exact DECIMAL through the group AND the
    window sum; the share is one double division of exact operands.

    Scale: dimension joins broadcast (customer→nation→region);
    the window partitions BY THE PARENT KEY over the nation-sized
    aggregate — bounded rows, bounded partitions, one fact shuffle total.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev_dec"))
    )
    w = Window.partitionBy("region_name")
    return rev.select(
        "region_name",
        "nation_name",
        F.round("rev_dec", 4).cast("double").alias("revenue"),
        F.round(
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w).cast("double"),
            6,
        ).alias("share_of_region"),
    )


# --------------------------------------------------------------------------
# Rolling active users (DAU / WAU / MAU)
# --------------------------------------------------------------------------


@query(
    "active_users_rolling",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    wau AS (
      SELECT dd.d, COUNT(DISTINCT ud.user_id) AS wau
      FROM days dd JOIN ud
        ON ud.d <= dd.d AND ud.d > dd.d - 7
      GROUP BY dd.d),
    mau AS (
      SELECT dd.d, COUNT(DISTINCT ud.user_id) AS mau
      FROM days dd JOIN ud
        ON ud.d <= dd.d AND ud.d > dd.d - 30
      GROUP BY dd.d),
    dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d)
    SELECT d AS day, CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau, CAST(mau.mau AS BIGINT) AS mau,
           ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
    FROM dau JOIN wau USING (d) JOIN mau USING (d)
    """,
)
def active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement counters: per calendar day, the distinct active
    users that day (DAU), over the trailing 7 days (WAU), the trailing 30
    (MAU), and DAU/MAU stickiness — THE growth dashboard row.  Windowed
    COUNT(DISTINCT) has no native frame form, so each (user, day)
    activity row is exploded to the bounded set of trailing windows it
    feeds — the standard distributed rewrite.

    Determinism: all counts exact integers over date arithmetic;
    stickiness is one rounded division.

    Scale: the distinct collapse shrinks events to (user, day); the
    explode fans that by ≤ 7 and ≤ 30 (constant factors, NOT data-sized);
    the per-day distinct is a map-side-combining aggregate on the day
    key.  Events themselves are scanned once.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.count("*").cast("bigint").alias("dau")
    )
    def trailing(n: int, name: str) -> DataFrame:
        fan = ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), n - 1))
            ).alias("day"),
        ).distinct()
        days = ud.select(F.col("d").alias("day")).distinct()
        return (
            fan.join(days, "day")
            .groupBy("day")
            .agg(F.countDistinct("user_id").cast("bigint").alias(name))
        )
    wau = trailing(7, "wau")
    mau = trailing(30, "mau")
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )


# --------------------------------------------------------------------------
# Top event trigram paths
# --------------------------------------------------------------------------

_PATH_TOPN = 15


@query(
    "event_trigram_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t3
      FROM events)
    SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path LIMIT {_PATH_TOPN}
    """,
)
def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{15} three-step behavior paths (event-type trigrams along each
    user's timeline) — the path-analysis view behind "what do users do
    right before purchasing", one level deeper than
    ``event_transition_matrix``'s first-order pairs.

    Determinism: the timeline order (ts, event_id) is total; counts exact;
    deterministic tie-break (count desc, path asc).

    Scale: one window partitioned on user_id (two LEADs share the single
    sort), a map-side-combining count on the bounded |types|³ key space,
    and a TakeOrderedAndProject top-k — never a global sort of paths.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(" > ", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOPN)
    )


