"""Window functions: ranking, analytic (lag/lead), and frame-based
aggregates (SURVEY.md §2.12 "windows").

Determinism convention: every window ORDER BY ends with a unique key
(orderkey/custkey) so rank/lag results are total-order stable; running sums
go through exact DECIMAL so the prefix arithmetic is order-independent.

Scale note: a window = one shuffle on partitionBy keys + per-partition sort.
Partition keys here (custkey, mktsegment) have bounded per-key cardinality,
so no single task receives unbounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table


@query(
    "window_row_number_rank",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def window_row_number_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per customer by order value."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "window_topk_per_group",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group = ranking window + filter.  At scale Spark rewrites
    the rank filter into a per-partition top-k (WindowGroupLimit) so no full
    sort of each group is materialized."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           o_totalprice - COALESCE(LAG(o_totalprice) OVER w, o_totalprice) AS price_delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each customer's order history (unique-key tiebreak)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    prev = F.lag("o_totalprice").over(w)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - F.coalesce(prev, F.col("o_totalprice"))).alias("price_delta"),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
           COUNT(*) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth_order
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) spend per customer — rowsBetween frame.  The
    DECIMAL accumulator makes each prefix sum exact, so Spark and the oracle
    agree bit-for-bit."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("DECIMAL(18,4)")).over(w).cast("double").alias(
            "running_spend"
        ),
        F.count("*").over(w).alias("nth_order"),
    )


@query(
    "window_range_between",
    oracle="""
    SELECT c_custkey, c_acctbal,
           COUNT(*) OVER (ORDER BY c_acctbal
                          RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING) AS peers_within_100
    FROM customer
    """,
)
def window_range_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rangeBetween frame: peers whose balance is within ±100 — a
    value-based (not row-based) frame, computed WITHOUT the
    single-partition RANGE window via the covering-bin equi-join (the
    ``range_join_binned`` technique): collapse to per-value counts,
    bucket values into width-100 bins, probe each value's own bin plus
    both neighbors (lossless cover of a ±100 band), apply the exact band
    check as a residual, and sum matching counts.  The plan is a plain
    hash join on a uniform integer key with fan-out bounded by 3x the
    per-bin value count — scalable where ``Window.rangeBetween`` over a
    corpus-wide order is a one-task stage.

    NULL order keys (ADVICE r7): a RANGE frame puts NULL rows in their
    own peer group — COUNT(*) over the frame is the NULL-row count — but
    the bin join can never route them (floor(NULL/100) joins nothing)
    and a plain final equi-join would DROP them (NULL = NULL is never
    true).  So the NULL value-group bypasses the bin join (its peer
    count IS its own group count) and the final join is null-safe
    (``eqNullSafe``), exactly reproducing ``Window.rangeBetween`` on
    nullable data (pinned by tests/test_windows_nulls.py); TPC-H
    c_acctbal is non-null, so fixture results are unchanged."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    vals = c.groupBy("c_acctbal").agg(F.count("*").alias("_cnt"))
    binned = vals.select(
        F.col("c_acctbal").alias("_v"),
        "_cnt",
        F.floor(F.col("c_acctbal") / 100).alias("_bin"),
    )
    probes = vals.select(
        F.col("c_acctbal").alias("_x"),
        F.explode(
            F.array(
                F.floor(F.col("c_acctbal") / 100) - 1,
                F.floor(F.col("c_acctbal") / 100),
                F.floor(F.col("c_acctbal") / 100) + 1,
            )
        ).alias("_bin"),
    )
    peers = (
        probes.join(binned, "_bin")
        .filter(
            (F.col("_v") >= F.col("_x") - 100) & (F.col("_v") <= F.col("_x") + 100)
        )
        .groupBy("_x")
        .agg(F.sum("_cnt").alias("peers_within_100"))
    )
    null_peers = vals.filter(F.col("c_acctbal").isNull()).select(
        F.col("c_acctbal").alias("_x"),
        F.col("_cnt").alias("peers_within_100"),
    )
    peers_all = peers.unionByName(null_peers)
    return c.join(peers_all, c.c_acctbal.eqNullSafe(peers_all._x)).select(
        "c_custkey", "c_acctbal", "peers_within_100"
    )


@query(
    "window_ntile_percentile",
    oracle="""
    SELECT c_custkey,
           NTILE(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS bal_quartile,
           CUME_DIST() OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS bal_cume
    FROM customer
    """,
)
def window_ntile_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + cume_dist distribution functions over a total order —
    computed scalably: one exact global rank from operators/rank.py
    (uniform acctbal buckets, partitioned row_number + broadcast prefix
    offsets) yields BOTH functions arithmetically.  On a UNIQUE order key
    every row is its own peer group, so ``cume_dist = rank / n`` exactly
    and ``ntile`` is the standard remainder arithmetic — no
    single-partition window anywhere.
    """
    from lms_etl_pipeline_spark.operators.rank import (
        attach_global_rank,
        ntile_of,
        with_uniform_key_buckets,
    )

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = attach_global_rank(
        with_uniform_key_buckets(c, "c_acctbal"),
        [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
        F.col("_gbk"),
        rank_col="_gr",
        total_col="_n",
    )
    return ranked.select(
        "c_custkey",
        ntile_of(F.col("_gr"), F.col("_n"), 4).alias("bal_quartile"),
        (F.col("_gr").cast("double") / F.col("_n")).alias("bal_cume"),
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           FIRST_VALUE(o_totalprice) OVER w AS cheapest,
           LAST_VALUE(o_totalprice)  OVER w AS priciest,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_cheapest
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit full-partition
    frame.  The frame spec matters: the default RANGE frame ends at CURRENT
    ROW, under which last_value degenerates to the current row — the classic
    window-function trap; pinning UNBOUNDED..UNBOUNDED on both engines makes
    the analytic functions read the whole partition."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("cheapest"),
        F.last("o_totalprice").over(w).alias("priciest"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_cheapest"),
    )


@query(
    "window_time_rolling",
    oracle="""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS events_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def window_time_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 1-hour event count and value sum — the time-based
    RANGE frame (rate limiting, rolling engagement, fraud velocity).

    Spark's rangeBetween needs a numeric ORDER key, so the frame orders on
    epoch *microseconds* (exact long; an hour is 3.6e9 µs) — semantically
    identical to the oracle's ``RANGE INTERVAL 1 HOUR PRECEDING`` because
    RANGE frames bound peers by value distance either way.  The rolling sum
    goes through exact DECIMAL so per-frame accumulation order can't leak
    into the double result.

    Scale: one shuffle on user_id + per-user time sort — bounded per-entity
    history, the same contract as every sessionization/asof op here.
    """
    e = load_table(spark, sf_dir, "events")
    micros = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("events_last_hour"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("value_last_hour"),
    )


@query(
    "events_rolling_anomaly",
    oracle="""
    WITH f AS (
      SELECT event_id, user_id, ts, value,
             COUNT(value) OVER w AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                  OVER w AS DOUBLE) AS s2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                             AND INTERVAL 1 MICROSECOND PRECEDING)
    )
    SELECT event_id, user_id,
           ROUND((value - s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1)), 6) AS value_z,
           ABS((value - s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1))) > 1.5
               AS is_anomaly
    FROM f
    WHERE n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 1e-12
    """,
)
def events_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection, batch-checkable: each event's
    value z-scored against the user's PRECEDING 1-hour window — the frame
    excludes the current event (RANGE ending 1 µs before it), because a
    point scored against a baseline containing itself has |z| capped at
    (n-1)/√n and small windows could never flag.  The rolling moments are
    exact decimal frame sums (the `agg_stats_exact` discipline applied to
    window frames), so the z — and the |z| > 1.5 flag — is bit-stable
    across partitionings and engines; the variance floor guards
    all-identical-values baselines.
    """
    e = load_table(spark, sf_dir, "events")
    micros = F.unix_micros(F.col("ts"))
    wp = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, -1)
    )
    d6 = F.col("value").cast("decimal(18,6)")
    f = e.select(
        "event_id",
        "user_id",
        "value",
        F.count("value").over(wp).alias("n"),
        F.sum(d6).over(wp).cast("double").alias("s1"),
        F.sum(d6 * d6).over(wp).cast("double").alias("s2"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - F.col("s1") / F.col("n")) / F.sqrt(var)
    return (
        f.filter((F.col("n") > 1) & (var > 1e-12))
        .select(
            "event_id",
            "user_id",
            F.round(z, 6).alias("value_z"),
            (F.abs(z) > 1.5).alias("is_anomaly"),
        )
    )


@query(
    "timeseries_interpolate_linear",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, ts, value, epoch_us(ts) AS us,
             {tx.hash60_sql("CAST(event_id AS VARCHAR)")} % 4 = 0 AS masked
      FROM events WHERE user_id < 50
    ),
    w AS (
      SELECT *,
             last_value(CASE WHEN NOT masked THEN us END IGNORE NULLS) OVER pw AS p_us,
             last_value(CASE WHEN NOT masked THEN value END IGNORE NULLS) OVER pw AS p_v,
             first_value(CASE WHEN NOT masked THEN us END IGNORE NULLS) OVER fw AS n_us,
             first_value(CASE WHEN NOT masked THEN value END IGNORE NULLS) OVER fw AS n_v
      FROM e
      WINDOW pw AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             fw AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, ts, masked,
           CASE WHEN NOT masked THEN value
                WHEN p_us IS NOT NULL AND n_us IS NOT NULL THEN
                  CASE WHEN n_us = p_us THEN p_v
                       ELSE p_v + (n_v - p_v) * ((us - p_us) / (n_us - p_us))
                  END
                ELSE COALESCE(p_v, n_v) END AS value_filled
    FROM w
    """,
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing sensor values — the time-series
    repair step ``timeseries_gap_fill`` (zero-fill) can't express: each
    missing reading is rebuilt from its nearest known neighbors, weighted
    by exact epoch-microsecond distance.  "Missing" is a deterministic
    25% mask on the stable event id (md5-prefix hash — the fixtures have
    no NULL values), so the differential check proves the interpolation
    arithmetic itself, bit-exactly: the time fraction is a ratio of exact
    integer µs deltas and the blend is three IEEE-exact ops, no rounding.
    Zero-width bracketing intervals (duplicate timestamps) resolve to the
    earlier neighbor's value instead of dividing by zero.

    Plan: ONE window shuffle on user_id serves all four neighbor lookups
    (last/first IGNORE NULLS over prefix/suffix frames); per-key state is
    bounded by a user's event count — no self-join, no spine explosion."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    bucket = tx.hash60(F.col("event_id").cast("string")) % 4
    us = F.unix_micros(F.col("ts"))
    e = e.select(
        "event_id", "user_id", "ts", "value",
        us.alias("us"), (bucket == 0).alias("masked"),
    )
    known_us = F.when(~F.col("masked"), F.col("us"))
    known_v = F.when(~F.col("masked"), F.col("value"))
    pw = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fw = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = e.select(
        "event_id", "user_id", "ts", "value", "us", "masked",
        F.last(known_us, ignorenulls=True).over(pw).alias("p_us"),
        F.last(known_v, ignorenulls=True).over(pw).alias("p_v"),
        F.first(known_us, ignorenulls=True).over(fw).alias("n_us"),
        F.first(known_v, ignorenulls=True).over(fw).alias("n_v"),
    )
    # try_divide: a masked reading bracketed by two known readings with
    # the SAME timestamp (duplicate-ts data — real at ingest scale, and
    # exercised by the tie-heavy ~sf1 sweep, where the bare division
    # crashed under ANSI) has a zero-width interval; define the blend as
    # the earlier neighbor's value in that case, in both engines.
    frac = F.try_divide(
        F.col("us") - F.col("p_us"), F.col("n_us") - F.col("p_us")
    )
    interp = F.when(
        F.col("n_us") == F.col("p_us"), F.col("p_v")
    ).otherwise(F.col("p_v") + (F.col("n_v") - F.col("p_v")) * frac)
    filled = (
        F.when(~F.col("masked"), F.col("value"))
        .when(
            F.col("p_us").isNotNull() & F.col("n_us").isNotNull(), interp
        )
        .otherwise(F.coalesce("p_v", "n_v"))
    )
    return w.select(
        "event_id", "user_id", "ts", "masked", filled.alias("value_filled")
    )
