"""Warehouse / business-analytics plans (split from the sequence
plans).

Gaps-and-islands activity streaks, SCD2 point-in-time snapshots, FIFO
returns allocation, surrogate-key and state-machine audits, weekly
churn, order-to-ship and business-days latency, running distinct users,
price-volume-mix bridges, repeat-purchase cycles, peer-vs-median
benchmarking, top-N+other rollups, and integrity-hashed export shard
manifests — the operational-reporting surface of the engine.

Scale shapes: one window pass or one keyed aggregate per plan; calendars
and thresholds broadcast.  Numeric discipline as in plans/timeseries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.plans import anchors
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.session import local_frame
from lms_etl_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Activity streaks (gaps-and-islands)
# --------------------------------------------------------------------------


@query(
    "activity_streaks",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    grp AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day ASC) AS INTEGER) AS g
      FROM active),
    islands AS (
      SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS len
      FROM grp GROUP BY 1, 2)
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM islands GROUP BY user_id
    """,
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over each user's active days: total active days,
    longest consecutive-day streak, and number of distinct streaks — the
    engagement cut behind "7-day streak" product mechanics and retention
    scoring.

    The island key is the classic constant-difference trick: day minus the
    per-user row number is constant exactly within a consecutive run, so
    ONE window pass + two hash aggregates replace any self-join or
    per-user iteration.  All outputs are exact integers.

    Scale: events first collapse to distinct (user, day) — bounded by
    users x calendar, far below raw event count; the window partitions by
    user_id (naturally high-cardinality, no skew hot key) and both
    aggregates are map-side combinable.
    """
    e = load_table(spark, sf_dir, "events")
    active = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    grp = active.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("g"),
    )
    islands = grp.groupBy("user_id", "g").agg(
        F.count("*").cast("bigint").alias("len")
    )
    return islands.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count("*").cast("bigint").alias("n_streaks"),
    )

# --------------------------------------------------------------------------
# SCD2 point-in-time snapshot ("time travel" read)
# --------------------------------------------------------------------------


@query(
    "scd2_snapshot_asof",
    oracle="""
    WITH h AS (
      SELECT o_custkey, o_orderstatus, o_totalprice,
             o_orderdate AS valid_from,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate ASC, o_orderkey ASC)
               AS valid_to
      FROM orders),
    t AS (SELECT CAST(MIN(o_orderdate) AS DATE) + INTERVAL 365 DAY AS asof
          FROM orders)
    SELECT h.o_custkey,
           h.o_orderstatus AS status_asof,
           CAST(ROUND(CAST(h.o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
             AS last_price_asof,
           CAST(h.valid_from AS DATE) AS since
    FROM h, t
    WHERE h.valid_from <= t.asof
      AND (h.valid_to IS NULL OR h.valid_to > t.asof)
      AND h.o_custkey < 200
    """,
)
def scd2_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction from SCD-type-2 validity windows: the
    per-customer order status AS OF one year into the dataset — the
    time-travel read (`FOR SYSTEM_TIME AS OF`) every warehouse dimension
    serves, built on the same one-window-pass history as
    ``scd2_order_status_history``.

    Exactly one row per customer key survives, because [valid_from,
    valid_to) windows partition each key's timeline — the filter IS the
    snapshot.  The as-of instant derives from the data as a 1-row
    broadcast, not a hardcoded constant: midnight of (first order DATE +
    365 days) — the DATE truncation is explicit ON BOTH SIDES because
    order timestamps need not be midnight-aligned (fuzz seed 19's first
    order lands at 23:00, which silently shifted an interval-on-timestamp
    oracle anchor by 23 hours and reclassified boundary rows).

    Scale: the history build is one window shuffle on the natural key; the
    snapshot filter is applied per row with a broadcast 1-row timestamp —
    no second shuffle.  A partitioned-store variant would prune history
    segments on valid_from before the scan.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    h = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    t = o.agg(
        F.date_add(F.to_date(F.min("o_orderdate")), 365)
        .cast("timestamp")
        .alias("asof")
    )
    return (
        h.crossJoin(F.broadcast(t))
        .filter(
            (F.col("valid_from") <= F.col("asof"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("asof")))
            & (F.col("o_custkey") < 200)
        )
        .select(
            "o_custkey",
            F.col("o_orderstatus").alias("status_asof"),
            F.round(F.col("o_totalprice").cast("decimal(18,4)"), 2)
            .cast("double")
            .alias("last_price_asof"),
            F.col("valid_from").cast("date").alias("since"),
        )
    )

# --------------------------------------------------------------------------
# FIFO returns allocation
# --------------------------------------------------------------------------


# Corpus-wide by default; the adversarial ~sf1 sweep bounds the frontier
# output explicitly via SPARK_GRAFT_ANCHOR_SLICES=bounded.  See
# plans/anchors.py.
_FIFO_SLICE = anchors.AnchorSlice("l_orderkey", 150000, kind="gate")


@query(
    "fifo_returns_allocation",
    oracle=f"""
    WITH li AS (
      SELECT * FROM lineitem WHERE {_FIFO_SLICE.sql}),
    ret AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS r_qty
      FROM li WHERE l_returnflag = 'R' GROUP BY 1),
    rec AS (
      SELECT l_partkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS DECIMAL(18,2)) AS qty,
             COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS DECIMAL(18,2))) AS cum_prev
      FROM li WHERE l_returnflag <> 'R')
    SELECT rec.l_partkey, rec.l_orderkey, rec.l_linenumber,
           CAST(rec.qty AS DOUBLE) AS qty,
           CAST(LEAST(GREATEST(ret.r_qty - rec.cum_prev,
                               CAST(0 AS DECIMAL(18,2))), rec.qty) AS DOUBLE)
             AS consumed_qty
    FROM rec JOIN ret ON ret.l_partkey = rec.l_partkey
    WHERE ret.r_qty - rec.cum_prev > 0
    """,
)
def fifo_returns_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation: per part, returned quantity (flag 'R') is consumed
    against the non-returned shipments in ship-date order — the classic
    inventory/cost-layer matching (FIFO costing, lot depletion, refund
    netting) expressed WITHOUT iteration: each receipt's consumed share is
    `clamp(total_returns - cum_prev, 0, qty)`, one running-sum window plus
    one aggregate join instead of a row-by-row loop.

    Only rows that absorb any allocation survive (the depletion frontier).
    All quantities are exact DECIMAL(18,2); the clamp is decimal min/max —
    no float knife edges.

    Scale: one window shuffle on l_partkey (natural key, high cardinality)
    + a co-keyed aggregate join that AQE plans as broadcast when the
    per-part return table is small.  No self-join: the interval-overlap
    formulation is O(n) per part.

    Default semantics are CORPUS-WIDE.  The adversarial ~sf1 deep sweep
    applies an explicit ``l_orderkey < 150000`` slice via
    ``SPARK_GRAFT_ANCHOR_SLICES=bounded`` to keep the frontier output
    under the comparator row cap; at every driver fixture scale that
    slice is a superset of the data, so both modes agree there.  See
    ``plans/anchors.py``.
    """
    li = _FIFO_SLICE.apply(load_table(spark, sf_dir, "lineitem"))
    d2 = F.col("l_quantity").cast("decimal(18,2)")
    ret = li.filter(F.col("l_returnflag") == "R").groupBy("l_partkey").agg(
        F.sum(d2).alias("r_qty")
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy(
            F.col("l_shipdate").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rec = li.filter(F.col("l_returnflag") != "R").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        d2.alias("qty"),
        F.coalesce(F.sum(d2).over(w), F.lit(0).cast("decimal(18,2)")).alias(
            "cum_prev"
        ),
    )
    consumed = F.least(
        F.greatest(F.col("r_qty") - F.col("cum_prev"), F.lit(0).cast("decimal(18,2)")),
        F.col("qty"),
    )
    return (
        rec.join(ret, "l_partkey")
        .filter(F.col("r_qty") - F.col("cum_prev") > 0)
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            F.col("qty").cast("double").alias("qty"),
            consumed.cast("double").alias("consumed_qty"),
        )
    )

# --------------------------------------------------------------------------
# Surrogate-key audit
# --------------------------------------------------------------------------


def _sk_arm(table: str, key: str) -> str:
    h = tx.hash60_sql(f"CAST({key} AS VARCHAR)")
    return f"""
    SELECT '{table}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {key}) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT {h}) AS BIGINT) AS n_surrogates,
           CAST(COUNT(DISTINCT {key}) - COUNT(DISTINCT {h}) AS BIGINT)
             AS n_collisions
    FROM {table}"""


@query(
    "surrogate_key_audit",
    oracle=" UNION ALL ".join(
        _sk_arm(t, k)
        for t, k in (
            ("orders", "o_orderkey"),
            ("customer", "c_custkey"),
            ("part", "p_partkey"),
        )
    ),
)
def surrogate_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key generation + collision audit: each
    natural key maps to a stable 60-bit md5-prefix surrogate (the data-
    vault / dimension-key idiom — content-derived, so retries and
    re-partitions can NEVER mint a different key, unlike
    monotonically_increasing_id), and the audit counts rows, distinct
    natural keys, distinct surrogates, and collisions per table.

    Scale: one scan + distinct-count aggregate per table; at 100 TB the
    exact COUNT(DISTINCT) swaps to HLL per the ``table_profile_orders``
    note while collision checking moves to a groupBy-surrogate HAVING>1
    probe.  60 bits ≈ no birthday collisions until ~2^30 keys; the audit
    is the evidence.
    """
    import functools

    arms = []
    for table, key in (
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
        ("part", "p_partkey"),
    ):
        t = load_table(spark, sf_dir, table)
        # One distinct aggregate per arm: distinct keys counted inside each
        # surrogate group.  Each key has exactly one surrogate, so the group
        # counts sum to COUNT(DISTINCT key), and COUNT(sk) counts the non-NULL
        # surrogates.  Two countDistincts over different children would plan
        # an Expand whose group order follows expression ids, so the plan
        # would depend on what the session built before.
        per_sk = t.groupBy(tx.hash60(F.col(key).cast("string")).alias("sk")).agg(
            F.count("*").alias("n"), F.countDistinct(F.col(key)).alias("nk")
        )
        n_keys = F.coalesce(F.sum("nk"), F.lit(0))
        arms.append(
            per_sk.agg(
                F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_rows"),
                n_keys.cast("bigint").alias("n_keys"),
                F.count("sk").cast("bigint").alias("n_surrogates"),
                (n_keys - F.count("sk")).cast("bigint").alias("n_collisions"),
            ).select(F.lit(table).alias("table_name"), "*")
        )
    return functools.reduce(lambda x, y: x.unionByName(y), arms)

# --------------------------------------------------------------------------
# Weekly churn (active last week, absent this week)
# --------------------------------------------------------------------------


@query(
    "churned_users_weekly",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id, DATE_TRUNC('week', CAST(ts AS DATE)) AS week
      FROM events),
    weeks AS (SELECT DISTINCT week FROM wk),
    nxt AS (
      SELECT week, LEAD(week) OVER (ORDER BY week) AS next_week FROM weeks)
    SELECT n.week,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COUNT(*) FILTER (WHERE b.user_id IS NULL) AS BIGINT)
             AS n_churned,
           ROUND(CAST(COUNT(*) FILTER (WHERE b.user_id IS NULL) AS DOUBLE)
                 / COUNT(*), 6) AS churn_rate
    FROM nxt n
    JOIN wk a ON a.week = n.week
    LEFT JOIN wk b ON b.user_id = a.user_id AND b.week = n.next_week
    WHERE n.next_week IS NOT NULL
    GROUP BY n.week
    """,
)
def churned_users_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: of the users active in week w, how many are absent in
    week w+1 — the BI retention headline (the inverse of
    ``events_cohort_retention``'s comeback view) computed as an
    anti-join-shaped LEFT JOIN on the (user x week) activity grid.

    The calendar of observed weeks comes from the data (LEAD over the
    distinct week list), so a trailing partial week is never scored
    against a missing future.  Counts exact; one rounded rate.

    Scale: events collapse to distinct (user, week) first; the
    presence probe is an equi-join on (user, week) — shuffle bounded by
    the activity grid, not the event stream.  The weeks spine is tiny and
    broadcast.
    """
    e = load_table(spark, sf_dir, "events")
    wk = e.select(
        "user_id", F.date_trunc("week", F.to_date("ts")).alias("week")
    ).distinct()
    weeks = wk.select("week").distinct()
    wspec = Window.orderBy("week")
    nxt = weeks.select(
        "week", F.lead("week").over(wspec).alias("next_week")
    ).filter(F.col("next_week").isNotNull())
    a = wk.select("user_id", "week")
    b = wk.select(
        F.col("user_id").alias("b_user"), F.col("week").alias("b_week")
    )
    joined = (
        F.broadcast(nxt)
        .join(a, "week")
        .join(
            b,
            (F.col("b_user") == F.col("user_id"))
            & (F.col("b_week") == F.col("next_week")),
            "left",
        )
    )
    return joined.groupBy(F.to_date("week").alias("week")).agg(
        F.count("*").cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("b_user").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_churned"),
        F.round(
            F.sum(F.when(F.col("b_user").isNull(), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("churn_rate"),
    )

# --------------------------------------------------------------------------
# Order-to-ship latency profile
# --------------------------------------------------------------------------


@query(
    "order_to_ship_latency",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE))) AS BIGINT) AS min_days,
           CAST(MEDIAN(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE))) AS DOUBLE) AS p50_days,
           CAST(QUANTILE_CONT(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                                       CAST(l.l_shipdate AS DATE)), 0.95)
                AS DOUBLE) AS p95_days,
           CAST(MAX(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE))) AS BIGINT) AS max_days
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship cycle time per order priority: exact day-count gaps
    between order placement and each line's ship date, profiled as
    min/p50/p95/max — the fulfillment-SLA report every ops dashboard
    leads with (and the cross-table latency twin of
    ``interarrival_time_stats``).

    Determinism: gaps are exact integer day diffs; p50/p95 use exact
    linear-interpolated percentiles (`percentile`/QUANTILE_CONT) over
    integers — both engines interpolate identically on sorted integer
    multisets.

    Scale: fact-fact equi-join on the natural key then one hash aggregate
    over a 5-row group-by; exact percentiles per bounded group are fine,
    the 100 TB swap is approx_percentile per the repo's sketch notes.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    gap = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    j = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority", gap.alias("gap")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("gap").cast("bigint").alias("min_days"),
        F.expr("percentile(gap, 0.5)").cast("double").alias("p50_days"),
        F.expr("percentile(gap, 0.95)").cast("double").alias("p95_days"),
        F.max("gap").cast("bigint").alias("max_days"),
    )

# --------------------------------------------------------------------------
# Cumulative unique users (running distinct count)
# --------------------------------------------------------------------------


@query(
    "cumulative_unique_users",
    oracle="""
    WITH fs AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY 1),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    news AS (
      SELECT first_day AS day, COUNT(*) AS n_new FROM fs GROUP BY 1)
    SELECT d.day,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(SUM(COALESCE(n.n_new, 0))
                  OVER (ORDER BY d.day ASC) AS BIGINT) AS cum_unique
    FROM days d LEFT JOIN news n ON n.day = d.day
    """,
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, by day — the "total
    audience" growth curve.  A windowed COUNT(DISTINCT) is
    unsupported/unscalable, so the standard rewrite: distinct collapses to
    each user's FIRST day (one aggregate), and the cumulative unique count
    is just the running sum of first-appearance counts — turning an
    O(days x users) distinct problem into a calendar-sized prefix sum.

    Scale: one user-keyed aggregate (map-side combinable) + a
    calendar-sized window.  This is the same bounded-fanout discipline as
    ``active_users_rolling``; all outputs exact integers.
    """
    e = load_table(spark, sf_dir, "events")
    fs = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    days = e.select(F.to_date("ts").alias("day")).distinct()
    news = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    w = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        days.join(news, "day", "left")
        .select("day", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            "day",
            F.col("n_new").cast("bigint").alias("n_new"),
            F.sum("n_new").over(w).cast("bigint").alias("cum_unique"),
        )
    )

# --------------------------------------------------------------------------
# Price-volume-mix decomposition
# --------------------------------------------------------------------------


@query(
    "price_volume_mix_decomposition",
    oracle="""
    WITH base AS (
      SELECT l_partkey, EXTRACT(MONTH FROM l_shipdate) AS m,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) * 10000
                  AS HUGEINT) AS rev_t,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100
                  AS HUGEINT) AS qty_h
      FROM lineitem
      WHERE EXTRACT(YEAR FROM l_shipdate)
              = (SELECT MIN(EXTRACT(YEAR FROM l_shipdate)) FROM lineitem)
        AND EXTRACT(MONTH FROM l_shipdate) IN (1, 2)
      GROUP BY 1, 2),
    px AS (
      SELECT l_partkey, m,
             CAST((rev_t * 1000000) // qty_h AS BIGINT) AS p_micro,
             CAST(qty_h AS BIGINT) AS q_h
      FROM base),
    both_m AS (
      SELECT a.l_partkey,
             a.p_micro AS p1, a.q_h AS q1, b.p_micro AS p2, b.q_h AS q2
      FROM px a JOIN px b ON a.l_partkey = b.l_partkey
      WHERE a.m = 1 AND b.m = 2)
    SELECT l_partkey,
           CAST(p2 AS BIGINT) - p1 AS delta_p_micro,
           CAST(q2 AS BIGINT) - q1 AS delta_q_h,
           CAST((CAST(p2 AS HUGEINT) * q2 - CAST(p1 AS HUGEINT) * q1)
                AS BIGINT) AS delta_rev_fp,
           CAST((CAST(p2 - p1 AS HUGEINT) * q1) AS BIGINT) AS price_effect_fp,
           CAST((CAST(p1 AS HUGEINT) * (q2 - q1)) AS BIGINT)
             AS volume_effect_fp,
           CAST((CAST(p2 - p1 AS HUGEINT) * (q2 - q1)) AS BIGINT)
             AS mix_effect_fp
    FROM both_m
    """,
)
def price_volume_mix_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix bridge in EXACT fixed point: for parts shipped in
    both month 1 and month 2 of the first year, the revenue move
    decomposes as Δrev = Δp·q1 + p1·Δq + Δp·Δq (price, volume, joint
    effect) — the FP&A explanation of WHY revenue moved, the per-entity
    drilldown behind ``period_delta_contribution``'s who-moved-it table.

    Numerics: unit price is an exact integer division in micro-units
    (floored; ``div`` / ``//`` — identical positive-operand semantics
    both engines), quantities in hundredths; every effect is then an
    exact INTEGER product in fixed-point units (µ¤·q/100 — divide by 1e8
    for currency).  The decomposition identity holds bit-exactly by
    construction (pinned in tests) — no double ever enters, so no
    rounding boundary exists to straddle.

    Scale: one hash aggregate keyed by (part, month), then a self-join on
    part over the two month slices — aggregate-sized, not fact-sized.
    The 128-bit intermediates bound the products at any revenue scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    y0 = li.agg(F.min(F.year("l_shipdate")).alias("y0"))
    base = (
        li.crossJoin(F.broadcast(y0))
        .filter(
            (F.year("l_shipdate") == F.col("y0"))
            & F.month("l_shipdate").isin(1, 2)
        )
        .groupBy("l_partkey", F.month("l_shipdate").alias("m"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) * 10000)
            .cast("decimal(38,0)")
            .alias("rev_t"),
            (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
            .cast("decimal(38,0)")
            .alias("qty_h"),
        )
    )
    px = base.select(
        "l_partkey",
        "m",
        F.expr("CAST((rev_t * 1000000) div qty_h AS BIGINT)").alias("p_micro"),
        F.col("qty_h").cast("bigint").alias("q_h"),
    )
    a = px.filter(F.col("m") == 1).select(
        "l_partkey", F.col("p_micro").alias("p1"), F.col("q_h").alias("q1")
    )
    b = px.filter(F.col("m") == 2).select(
        "l_partkey", F.col("p_micro").alias("p2"), F.col("q_h").alias("q2")
    )
    j = a.join(b, "l_partkey")
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return j.select(
        "l_partkey",
        (F.col("p2") - F.col("p1")).cast("bigint").alias("delta_p_micro"),
        (F.col("q2") - F.col("q1")).cast("bigint").alias("delta_q_h"),
        (d38("p2") * d38("q2") - d38("p1") * d38("q1"))
        .cast("bigint")
        .alias("delta_rev_fp"),
        ((d38("p2") - d38("p1")) * d38("q1"))
        .cast("bigint")
        .alias("price_effect_fp"),
        (d38("p1") * (d38("q2") - d38("q1")))
        .cast("bigint")
        .alias("volume_effect_fp"),
        ((d38("p2") - d38("p1")) * (d38("q2") - d38("q1")))
        .cast("bigint")
        .alias("mix_effect_fp"),
    )

# --------------------------------------------------------------------------
# Repeat-purchase cycle
# --------------------------------------------------------------------------


@query(
    "repeat_purchase_cycle",
    oracle="""
    WITH gaps AS (
      SELECT c.c_nationkey,
             DATEDIFF('day',
               CAST(LAG(o.o_orderdate) OVER (
                 PARTITION BY o.o_custkey
                 ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS DATE),
               CAST(o.o_orderdate AS DATE)) AS gap
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
    SELECT c_nationkey,
           CAST(COUNT(gap) AS BIGINT) AS n_gaps,
           CAST(MEDIAN(gap) AS DOUBLE) AS p50_days,
           CAST(QUANTILE_CONT(gap, 0.9) AS DOUBLE) AS p90_days
    FROM gaps WHERE gap IS NOT NULL
    GROUP BY c_nationkey
    """,
)
def repeat_purchase_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cycle time: per-customer gaps between consecutive
    orders, profiled per nation as median / p90 days — the
    replenishment-rhythm metric behind reorder reminders and demand
    forecasting (the ORDER-level sibling of ``interarrival_time_stats``'s
    event-level burstiness).

    Determinism: gaps are exact integer day diffs off one per-customer
    LAG; percentiles interpolate identical sorted integers in both
    engines (the `order_to_ship_latency` discipline).

    Scale: one window shuffle on the natural customer key, then a
    bounded-key (|nations|) aggregate; exact percentiles swap to
    approx_percentile at fleet scale per the repo's sketch notes.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    gaps = (
        o.select(
            "o_custkey",
            F.datediff(
                F.to_date("o_orderdate"),
                F.to_date(F.lag("o_orderdate").over(w)),
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return gaps.groupBy("c_nationkey").agg(
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.expr("percentile(gap, 0.5)").cast("double").alias("p50_days"),
        F.expr("percentile(gap, 0.9)").cast("double").alias("p90_days"),
    )

# --------------------------------------------------------------------------
# Peer benchmarking vs group median
# --------------------------------------------------------------------------


@query(
    "peer_benchmark_vs_median",
    oracle="""
    WITH rev AS (
      SELECT s.s_suppkey, s.s_nationkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS r
      FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    med AS (
      SELECT s_nationkey, MEDIAN(CAST(r AS HUGEINT)) AS m
      FROM (SELECT s_nationkey, r * 10000 AS r FROM rev) GROUP BY 1)
    SELECT rev.s_suppkey, rev.s_nationkey,
           CAST(ROUND(rev.r, 2) AS DOUBLE) AS revenue,
           CAST(CAST(rev.r * 20000 AS HUGEINT) - CAST(med.m * 2 AS HUGEINT)
                AS BIGINT) AS delta2_vs_median_fp,
           (rev.r * 10000 > med.m) AS above_median
    FROM rev JOIN med ON med.s_nationkey = rev.s_nationkey
    """,
)
def peer_benchmark_vs_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peer benchmarking: each supplier's revenue against the MEDIAN of
    its nation peer group — the "you vs similar accounts" readout every
    seller/ops dashboard ships, robust to the one whale the mean would
    follow.

    Numerics: revenues are exact decimals scaled to integer fixed point
    (×1e4) BEFORE the median; the delta is emitted in DOUBLED fixed-point
    units so an even-count interpolated median (k + 0.5) becomes the
    exact integer 2k+1 before any cast — no rounding-mode divergence can
    enter; the above/below flag compares exact-magnitude doubles.

    Scale: supplier-keyed aggregate, then a |nations|-group exact median
    over supplier-count-sized groups broadcast back.  At fleet scale the
    median swaps to approx_percentile per the repo's sketch notes.
    """
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .groupBy("s_suppkey", "s_nationkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("r"))
    )
    scaled = rev.withColumn("r_fp", (F.col("r") * 10000).cast("decimal(38,0)"))
    med = scaled.groupBy(F.col("s_nationkey").alias("m_nat")).agg(
        F.expr("percentile(r_fp, 0.5)").alias("m")
    )
    return (
        scaled.join(F.broadcast(med), F.col("s_nationkey") == F.col("m_nat"))
        .select(
            "s_suppkey",
            "s_nationkey",
            F.round(F.col("r"), 2).cast("double").alias("revenue"),
            # doubled fixed-point units: 2*median = the sum of the two
            # middle integers, exact — no .5 interpolation survives to a
            # cast whose rounding mode could differ between engines
            (
                (F.col("r_fp") * 2).cast("decimal(38,0)")
                - (F.col("m") * 2).cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("delta2_vs_median_fp"),
            (F.col("r_fp").cast("double") > F.col("m")).alias("above_median"),
        )
    )

# --------------------------------------------------------------------------
# Top-N + "other" rollup
# --------------------------------------------------------------------------


@query(
    "topn_plus_other_rollup",
    oracle="""
    WITH per_src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY 1),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_docs DESC, source ASC) AS rk
      FROM per_src)
    SELECT CASE WHEN rk <= 3 THEN source ELSE '(other)' END AS bucket,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(MIN(rk) AS BIGINT) AS rank_order
    FROM ranked
    GROUP BY 1
    """,
)
def topn_plus_other_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 sources by volume with everything else folded into one
    "(other)" bucket — the long-tail presentation rule every report uses
    (pie charts, budget tables) and the complement of plain top-k: the
    tail is ACCOUNTED FOR, not dropped, so bucket totals reconcile to the
    corpus total (pinned).

    Determinism: counts are exact; the rank tiebreak is total (count
    desc, name asc).  Scale: the rollup runs over the |sources|-sized
    aggregate, never the corpus; the window is report-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    w = Window.orderBy(F.col("n_docs").desc(), F.col("source").asc())
    ranked = per_src.withColumn("rk", F.row_number().over(w))
    return (
        ranked.select(
            F.when(F.col("rk") <= 3, F.col("source"))
            .otherwise(F.lit("(other)"))
            .alias("bucket"),
            "n_docs",
            "n_chars",
            "rk",
        )
        .groupBy("bucket")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.min("rk").cast("bigint").alias("rank_order"),
        )
    )

# --------------------------------------------------------------------------
# State-machine compliance audit
# --------------------------------------------------------------------------

#: Allowed event-type transitions per user journey (the product's funnel
#: contract): anything else is a compliance violation to investigate.
_ALLOWED_TRANSITIONS = (
    ("view", "view"),
    ("view", "click"),
    ("click", "view"),
    ("click", "click"),
    ("click", "purchase"),
    ("purchase", "view"),
)


def _sm_allowed_sql() -> str:
    return ", ".join(f"('{a}','{b}')" for a, b in _ALLOWED_TRANSITIONS)


@query(
    "state_machine_audit",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS curr,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev
      FROM events),
    pairs AS (SELECT prev, curr FROM seq WHERE prev IS NOT NULL),
    allowed(a, b) AS (VALUES __SM_VALUES__)
    SELECT p.prev, p.curr,
           CAST(COUNT(*) AS BIGINT) AS n,
           (al.a IS NULL) AS is_violation
    FROM pairs p
    LEFT JOIN allowed al ON al.a = p.prev AND al.b = p.curr
    GROUP BY p.prev, p.curr, al.a IS NULL
    """.replace("__SM_VALUES__", _sm_allowed_sql()),
)
def state_machine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-machine compliance audit: per-user event sequences checked
    against the product's ALLOWED transition contract — observed
    transitions counted and flagged when outside the allowlist.  This is
    the governance twin of ``event_transition_matrix`` (which measures
    what IS; this judges it against what SHOULD be) — the order-status /
    workflow-integrity check every operational datastore audits after an
    incident.

    Determinism: the sequence order is total ((ts, event_id)); counts
    exact; the flag is a broadcast-allowlist anti-membership.

    Scale: one window shuffle on user_id, then a |types|²-bounded
    aggregate joined against a literal allowlist (broadcast by size).
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = e.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("curr"),
    ).filter(F.col("prev").isNotNull())
    allowed = F.broadcast(
        local_frame(spark, _ALLOWED_TRANSITIONS, "a string, b string")
    )
    return (
        seq.join(
            allowed,
            (F.col("prev") == F.col("a")) & (F.col("curr") == F.col("b")),
            "left",
        )
        .groupBy("prev", "curr", F.col("a").isNull().alias("is_violation"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .select("prev", "curr", "n", "is_violation")
    )


# --------------------------------------------------------------------------
# Business-days latency
# --------------------------------------------------------------------------

#: extra-business-days lookup: index (isodow(start)-1)*7 + (gap % 7),
#: precomputed once and injected into BOTH engines as the same literals.
_BD_EXTRA = (
    0, 1, 2, 3, 4, 4, 4,
    0, 1, 2, 3, 3, 3, 4,
    0, 1, 2, 2, 2, 3, 4,
    0, 1, 1, 1, 2, 3, 4,
    0, 0, 0, 1, 2, 3, 4,
    0, 0, 1, 2, 3, 4, 5,
    0, 1, 2, 3, 4, 5, 5,
)


@query(
    "business_days_latency",
    oracle=f"""
    WITH g AS (
      SELECT o.o_orderpriority,
             DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS gap,
             ISODOW(CAST(o.o_orderdate AS DATE)) AS k
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    bd AS (
      SELECT o_orderpriority,
             (gap // 7) * 5
               + [{", ".join(str(x) for x in _BD_EXTRA)}]
                 [(k - 1) * 7 + (gap % 7) + 1] AS bdays
      FROM g WHERE gap >= 0)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MEDIAN(bdays) AS DOUBLE) AS p50_bdays,
           CAST(QUANTILE_CONT(bdays, 0.95) AS DOUBLE) AS p95_bdays,
           CAST(SUM(CASE WHEN bdays > 60 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sla_breach
    FROM bd GROUP BY o_orderpriority
    """,
)
def business_days_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency in BUSINESS days (weekends excluded) with a
    60-business-day SLA breach count — the calendar arithmetic ops teams
    actually contract on, computed CLOSED-FORM: full weeks contribute 5
    days and the remainder comes from a 49-entry (start-weekday × gap%7)
    lookup injected identically into both engines — no per-day explode,
    no calendar table scan (property-verified against day-by-day
    iteration in tests).

    Scale: the lookup is O(1) per row on the fact join; the percentile
    aggregate is 5-group-bounded.  A holiday calendar would swap the
    literal lookup for a broadcast dim — same shape.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    gap = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    k = F.weekday(F.to_date("o_orderdate")) + 1  # ISO: Mon=1..Sun=7
    extra = F.element_at(
        F.array(*[F.lit(x) for x in _BD_EXTRA]),
        ((k - 1) * 7 + (gap % 7) + 1).cast("int"),
    )
    j = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            "o_orderpriority",
            gap.alias("gap"),
            extra.alias("extra"),
        )
        .filter(F.col("gap") >= 0)
        .select(
            "o_orderpriority",
            (F.floor(F.col("gap") / 7) * 5 + F.col("extra")).alias("bdays"),
        )
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("percentile(bdays, 0.5)").cast("double").alias("p50_bdays"),
        F.expr("percentile(bdays, 0.95)").cast("double").alias("p95_bdays"),
        F.sum(F.when(F.col("bdays") > 60, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sla_breach"),
    )

# --------------------------------------------------------------------------
# Export shard manifest (integrity-hashed shard stats)
# --------------------------------------------------------------------------

_N_SHARDS = 8


@query(
    "export_shard_manifest",
    oracle=f"""
    WITH d AS (
      SELECT {tx.hash60_sql("CAST(doc_id AS VARCHAR)")} % {_N_SHARDS} AS shard,
             LEN({tx.tokens_sql()}) AS n_toks,
             {tx.hash60_sql("text")} AS h
      FROM documents)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(BIT_XOR(h) AS BIGINT) AS content_hash
    FROM d GROUP BY shard
    """,
)
def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-shard manifest: docs assigned to {_N_SHARDS} shards by a
    content-free stable hash, each shard summarized as (doc count, token
    count, ORDER-INDEPENDENT content hash = XOR of per-doc 60-bit md5
    prefixes) — the integrity manifest a training-data export writes next
    to its shards so any reader (or a later re-export) can verify
    completeness and bit-level content equality WITHOUT re-reading in a
    fixed order.

    XOR is the point: commutative/associative, so the manifest hash is
    identical under any partitioning, any retry order, and any engine —
    the same property `dec_sum` gives money columns, applied to content
    identity.  Pairs with ``corpus_shuffle_deterministic`` (ordering) and
    ``curated_corpus_partitioned_write`` (layout).

    Scale: one scan, map-side-combining aggregate, {_N_SHARDS} output
    rows; the hash combine is mergeable across any shard/executor split.
    """
    d = load_table(spark, sf_dir, "documents")
    shard = tx.hash60(F.col("doc_id").cast("string")) % _N_SHARDS
    h = tx.hash60(F.col("text"))
    return (
        d.select(
            shard.alias("shard"),
            F.size(tx.tokens("text")).alias("n_toks"),
            h.alias("h"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.expr("bit_xor(h)").cast("bigint").alias("content_hash"),
        )
    )
