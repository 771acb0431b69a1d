"""Event-time windowing over the ``events`` table (SURVEY.md §2.12
"streaming" row), expressed batch-first so the DuckDB oracle can check it.

``events_session_window`` builds through the streaming entry point
``streaming.sessionized_counts``: on a batch frame the optimizer drops its
watermark, so the batch and micro-batch plans are one declarative windowed
plan with the execution chosen by the source.  The tumbling and sliding
windows keep their own ``window()`` spelling, since they also group by
event type or sum the value, which ``streaming.windowed_counts`` does not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators.rank import (
    global_running_agg,
    with_uniform_key_buckets,
)
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table
from lms_etl_pipeline_spark.streaming import sessionized_counts

# Exact-decimal view of the event measure: deterministic distributed sums.
def _dec_value() -> Column:
    return F.col("value").cast("DECIMAL(18,6)")


@query(
    "events_tumbling_window",
    oracle="""
    SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS w_start,
           TIME_BUCKET(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS w_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window per event type."""
    e = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return (
        e.groupBy(w.alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum(_dec_value()).cast("double").alias("total_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT e.*,
             TIME_BUCKET(INTERVAL '30 minutes', e.ts) - (o.i * INTERVAL 30 MINUTE) AS w_start
      FROM events e CROSS JOIN (VALUES (0), (1)) AS o(i)
    )
    SELECT w_start,
           w_start + INTERVAL 1 HOUR AS w_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM starts
    GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window with a 30-minute hop: each event lands in 2
    windows (Spark expands this without data duplication at the source —
    the explode happens post-scan, pre-shuffle)."""
    e = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        e.groupBy(w.alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum(_dec_value()).cast("double").alias("total_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "events_session_window",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, ts FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT e.user_id,
           MIN(e.ts) AS session_start,
           MAX(e.ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM events e
    JOIN sessions s ON e.user_id = s.user_id AND e.ts = s.ts
    GROUP BY e.user_id, s.sid
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window (10-minute inactivity gap) per user.  Spark merges
    events whose windows overlap; session end = last event + gap.  The
    oracle replicates with the gaps-and-islands idiom computed over
    DISTINCT (user_id, ts): with duplicate timestamps (ubiquitous in the
    adversarial ~sf1 fixture), flagging/running-summing over raw rows is
    NONDETERMINISTIC — ROWS framing over a non-unique ORDER BY key lets an
    arbitrary subset of a tie group sort before the boundary flag and land
    in the previous session (measured: DuckDB row counts varied 98524-98529
    across runs of the old oracle).  Session membership is a function of
    the ts VALUE (exactly Spark's merge-overlapping-windows semantics), so
    the sid is computed per distinct timestamp — unique ORDER BY key, fully
    deterministic — and raw events join back on (user_id, ts)."""
    return sessionized_counts(load_table(spark, sf_dir, "events"))


@query(
    "events_funnel_conversion",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(ts) FILTER (event_type = 'click')    AS first_click,
             MIN(ts) FILTER (event_type = 'purchase') AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(first_click) AS n_clicked,
           COUNT(CASE WHEN first_purchase >= first_click
                       AND first_purchase <= first_click + INTERVAL 1 HOUR
                      THEN 1 END) AS n_converted_1h
    FROM firsts
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: users whose first purchase follows their first
    click within 1 hour.  One groupBy pass builds per-user milestones
    (conditional MIN), then a single global rollup — no self-join, no
    window; linear at any event volume."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    converted = (
        (F.col("first_purchase") >= F.col("first_click"))
        & (F.col("first_purchase") <= F.col("first_click") + F.expr("INTERVAL 1 HOUR"))
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("first_click").alias("n_clicked"),
        F.count(F.when(converted, 1)).alias("n_converted_1h"),
    )


@query(
    "events_type_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click')    AS n_click,
           COUNT(*) FILTER (event_type = 'view')     AS n_view,
           COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (event_type = 'error')    AS n_error
    FROM events
    GROUP BY user_id
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count pivot (one pass, no PIVOT shuffle explosion)."""
    e = load_table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return e.groupBy("user_id").agg(*aggs)


_GAP_MICROS = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@query(
    "events_sessionize_gap",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w > {_GAP_MICROS}
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
           COUNT(*) AS n_events,
           MIN(ts) AS t_start,
           MAX(ts) AS t_end
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization by the 30-minute-inactivity gap rule with
    EXPLICIT session ids: a session starts where the gap to the previous
    event exceeds the threshold; the id is the running count of session
    starts — the classic web-analytics assignment, and the batch twin of
    ``events_session_window`` (whose built-in ``session_window`` emits
    merged intervals but no stable per-session key to join facts back to).

    Scale: two windows over ONE partitioning (user_id) — Catalyst plans a
    single shuffle and sorts once; then a (user, session) hash aggregate.
    Gap compare in integer microseconds (``unix_micros``/``EPOCH_US``),
    deterministic via the unique (ts, event_id) order key."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > _GAP_MICROS), 1
        ).otherwise(0).alias("new_s"),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.select(
        "user_id", "ts", F.sum("new_s").over(wc).cast("long").alias("session_id")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
    )


@query(
    "funnel_conversion",
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
    SELECT 1 AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT 2, 'click', COUNT(*) FROM c
    UNION ALL
    SELECT 3, 'purchase', COUNT(*) FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: a user advances a stage
    only with an event STRICTLY AFTER their previous stage's earliest
    completion — the product-analytics conversion report (and the query
    shape behind every "where do users drop off" dashboard).  The
    strict-sequencing complement of ``events_funnel_conversion``, whose
    milestone rollup checks click->purchase ordering inside one aggregate
    but cannot express a 3+ stage strictly-after chain.

    Scale: three (user_id)-keyed aggregates chained by equi-joins — every
    shuffle is on the same key, so Catalyst/AQE reuses the partitioning;
    no window over the full event stream, no per-user Python.  Stage
    frames shrink monotonically (each joins the previous survivors)."""
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
    def stage(df, n, name):
        return df.agg(
            F.lit(n).cast("int").alias("stage"),
            F.lit(name).alias("event_type"),
            F.count("*").alias("n_users"),
        )
    return stage(v, 1, "view").unionByName(stage(c, 2, "click")).unionByName(
        stage(p, 3, "purchase")
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id),
    a AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN f ON f.user_id = e.user_id)
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM a GROUP BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day, and
    for each (cohort, day-offset) cell the count of cohort members active
    that day — THE growth-analytics table (D1/D7/D30 retention reads
    straight off it).

    Scale: one (user)-keyed min-aggregate for cohort assignment, an
    equi-join back (same key, partitioning reused), a per-(user, day)
    distinct, then the final small aggregate — all hash-partitioned
    shuffles on well-distributed keys, no windows, no skew hazard."""
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    a = (
        e.join(f, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return a.groupBy("cohort_day", F.col("day_offset").cast("long").alias("day_offset")).agg(
        F.count("*").alias("n_users")
    )


# --------------------------------------------------------------------------
# Watermark loss curve (batch-checkable watermark sizing)
# --------------------------------------------------------------------------

_WM_DELAYS_MIN = (1, 5, 10, 30)


@query(
    "watermark_loss_curve",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, ts,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS max_seen
      FROM events),
    d AS (SELECT UNNEST(ARRAY{list(_WM_DELAYS_MIN)}) AS delay_min),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events)
    SELECT d.delay_min,
           CAST(SUM(CASE WHEN s.max_seen IS NOT NULL
                     AND s.ts < s.max_seen - TO_MINUTES(d.delay_min)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           ROUND(CAST(SUM(CASE WHEN s.max_seen IS NOT NULL
                          AND s.ts < s.max_seen - TO_MINUTES(d.delay_min)
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / (SELECT total FROM tot), 6) AS drop_rate
    FROM seq s, d
    GROUP BY d.delay_min
    """,
)
def watermark_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing curve: for each candidate watermark delay, how many
    events would be DROPPED as too-late (event time older than the running
    max event time minus the delay), with arrival order played by event_id
    (the fixture's ingestion sequence — documented proxy, same convention
    as the streaming runtime tests).  This is the batch-checkable answer
    to the streaming operator's first production question — "what
    watermark keeps loss under X?" — computed BEFORE committing a
    streaming job to a delay (the planning twin of the runtime
    ``withWatermark`` tests in ``streaming/``).

    Determinism: the running max is a window over a total order; lateness
    per (event, delay) is an exact timestamp comparison; counts exact.

    Scale: ONE running max over the arrival order — computed via
    operators/rank.py's ``global_running_agg`` (max, exclusive) over
    uniform event_id buckets, so the corpus-sized prefix never
    single-partitions — then a {4}-way delay explode of a 3-column
    projection and a map-side-combining count per delay; the event table
    is never joined to itself.
    """
    e = load_table(spark, sf_dir, "events")
    seq = global_running_agg(
        with_uniform_key_buckets(e.select("event_id", "ts"), "event_id"),
        "ts",
        [F.col("event_id").asc()],
        F.col("_gbk"),
        out_col="max_seen",
        agg="max",
        inclusive=False,
    ).select("event_id", "ts", "max_seen")
    tot = e.agg(F.count("*").cast("bigint").alias("total"))
    delays = F.explode(
        F.array(*[F.lit(m) for m in _WM_DELAYS_MIN])
    ).alias("delay_min")
    exploded = seq.select("ts", "max_seen", delays)
    late = F.when(
        F.col("max_seen").isNotNull()
        & (
            F.col("ts")
            < F.col("max_seen")
            - F.col("delay_min") * F.expr("INTERVAL 1 MINUTE")
        ),
        1,
    ).otherwise(0)
    return (
        exploded.groupBy("delay_min")
        .agg(F.sum(late).cast("bigint").alias("n_dropped"))
        .crossJoin(F.broadcast(tot))
        .select(
            "delay_min",
            "n_dropped",
            F.round(
                F.col("n_dropped").cast("double") / F.col("total"), 6
            ).alias("drop_rate"),
        )
    )
