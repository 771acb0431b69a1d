"""Relational joins, sorts, limits, and top-k plans — split from
``plans/relational.py`` along its section boundaries (repo convention:
plan modules stay <= ~1,100 LoC).

Shared revenue forms (``_REVENUE_SQL``/``_rev6``) and the determinism
conventions are ``plans/relational``'s docstring; scale notes stay inline
per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.functions.numeric import (
    dec,
    dec_sum,
    hl_double,
    hl_round_4dp,
    hl_sums,
    units,
)
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.relational import _REVENUE_SQL, _rev6
from lms_etl_pipeline_spark.sources import bucketed
from lms_etl_pipeline_spark.sources.tables import load_table

# Joins
# ---------------------------------------------------------------------------


@query(
    "flagship_regional_revenue",
    oracle=f"""
    SELECT r.r_name,
           CAST(ROUND(SUM({_REVENUE_SQL}), 4) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY r.r_name
    """,
)
def flagship_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY §7 milestone 0): fact-fact shuffle join + broadcast
    dimension chain + hash agg.

    Scale: lineitem⋈orders shuffles on orderkey (the one unavoidable big
    shuffle); customer/nation/region are broadcast so the dimension chain
    adds zero shuffles.  The date filter prunes orders before the join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        # hi/lo split: 5 region groups of scale-6 revenue ANSI-abort near
        # sf~800 unsplit (functions.numeric.units)
        .withColumn("r6u", _rev6())
        .groupBy("r_name")
        .agg(*hl_sums("r6u", "r", non_negative=True), F.count("*").alias("n_items"))
        .select(
            "r_name",
            F.expr(hl_round_4dp("r")).alias(
                "revenue"
            ),
            "n_items",
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(ROUND(SUM({_REVENUE_SQL}), 4) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter -> two joins -> agg ->
    top-10.  Scale: the segment filter cuts customer ~1/5 before its join;
    lineitem⋈orders shuffles on orderkey; final ordering is a driver-side
    merge of 10-row heaps (TakeOrderedAndProject)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev6()).alias("r6"))
        .select(
            "l_orderkey",
            F.expr("((r6 + 50) DIV 100) / 10000.0D").alias("revenue"),
            "o_orderdate",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(ROUND(SUM({_REVENUE_SQL}), 4) AS DOUBLE) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, one quarter.
    The returnflag filter pushes into the lineitem scan; nation broadcasts;
    top-20 avoids a global sort."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev6()).alias("r6"))
        .withColumn("revenue", F.expr("((r6 + 50) DIV 100) / 10000.0D"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
           n2.n_name AS supp_nation,
           CAST(ROUND(SUM({_REVENUE_SQL}), 4) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
    JOIN region r   ON n1.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    WHERE r.r_name = 'ASIA'
      AND p.p_type = 'STANDARD'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-relation join (nation twice) with selective
    filters on three different dimensions.  The part filter is
    ``p_type = 'STANDARD'`` (the fixtures use single-word p_type values;
    TPC-H's '%BRASS%' selects nothing, which would make the match vacuous).

    Scale: Catalyst orders the joins; every dimension (customer excepted)
    broadcasts, so the only shuffles are lineitem⋈orders on orderkey and
    the final 2-key aggregation.  The p_type LIKE filter prunes part
    before its broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .withColumn("r6u", _rev6())
        .groupBy(F.year("o_orderdate").alias("o_year"), "supp_nation")
        .agg(*hl_sums("r6u", "r", non_negative=True), F.count("*").alias("n_items"))
        .withColumn(
            "revenue", F.expr(hl_round_4dp("r"))
        )
        .drop("rhi", "rlo")
    )


@query(
    "join_inner_orders_customer",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 400000
    """,
)
def join_inner_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join; the selective fact-side filter is applied pre-join."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left_outer_counts",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (NULL-safe COUNT/SUM)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_spend"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT k.key_nation AS nationkey,
           c.n_cust, s.n_supp
    FROM (SELECT DISTINCT c_nationkey AS key_nation FROM customer
          UNION SELECT DISTINCT s_nationkey FROM supplier) k
    LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
           ON k.key_nation = c.c_nationkey
    LEFT JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
           ON k.key_nation = s.s_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier counts."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_supp"))
    )
    joined = c.join(s, c.c_nationkey == s.s_nationkey, "full")
    return joined.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"), "n_cust", "n_supp"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one big order.  Semi joins
    never duplicate the left side — no fan-out at scale."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no URGENT order.  (Every fixture
    customer has *some* order, so the classic never-ordered anti-join
    matched on 0=0 rows — vacuous; the priority filter makes the check
    exercise real tuples at sf0.01.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_nonequi_range",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, p.p_size,
           CAST(l.l_quantity AS BIGINT) AS qty
    FROM lineitem l JOIN part p
      ON l.l_partkey = p.p_partkey
     AND l.l_quantity BETWEEN p.p_size - 2 AND p.p_size + 2
    WHERE p.p_brand = 'Brand#11'
    """,
)
def join_nonequi_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + range residual (theta) predicate evaluated inside the join.

    Scale: the equi component keeps this a hash join (the residual is a
    post-probe filter), so it does NOT degrade to a nested-loop cross.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    return li.join(
        F.broadcast(p),
        (li.l_partkey == p.p_partkey)
        & li.l_quantity.between(p.p_size - 2, p.p_size + 2),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "p_partkey",
        "p_size",
        F.col("l_quantity").cast("bigint").alias("qty"),
    )


@query(
    "join_broadcast_dim_agg",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_balance,
           COUNT(*) AS n_cust
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_broadcast_dim_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join on a dimension: zero shuffle for the join
    itself (only the final agg shuffles, on 25 keys)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dec_sum("c_acctbal", "total_balance"), F.count("*").alias("n_cust"))
    )


@query(
    "join_asof_last_click",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           c.ts AS asof_ts, c.click_id
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's most recent
    click at-or-before it (attribution's core primitive).

    Implementation is the union-sort-window idiom (operators.temporal):
    ONE shuffle on user_id + per-key sort — same cost as a sort-merge
    join, no range-candidate explosion.  The right side is deduped on
    (key, ts) first so ties are deterministic on both engines.
    """
    from lms_etl_pipeline_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    return asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", value_cols=["click_id"]
    )


@query(
    "join_interval_events",
    oracle="""
    SELECT err.event_id, err.user_id,
           COUNT(act.event_id) AS nearby_actions
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') err
    LEFT JOIN (SELECT event_id, user_id, ts FROM events
               WHERE event_type IN ('click', 'view')) act
      ON act.user_id = err.user_id
     AND act.ts BETWEEN err.ts - INTERVAL 5 MINUTE AND err.ts + INTERVAL 5 MINUTE
    GROUP BY err.event_id, err.user_id
    """,
)
def join_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join on event time: activity within ±5 minutes of
    each error, per user.  The equi key keeps this a hash join with the
    time band as a residual predicate — never a nested loop (pinned in
    tests/test_plan_shapes.py)."""
    from lms_etl_pipeline_spark.operators.temporal import interval_join_condition

    e = load_table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id").alias("err_user"), F.col("ts").alias("err_ts")
    )
    act = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("act_id"), F.col("user_id").alias("act_user"), F.col("ts").alias("act_ts")
    )
    cond = interval_join_condition(
        F.col("err_user"), F.col("act_user"), F.col("err_ts"), F.col("act_ts"), "5 minutes"
    )
    return (
        err.join(act, cond, "left")
        .groupBy(F.col("err_id").alias("event_id"), F.col("err_user").alias("user_id"))
        .agg(F.count("act_id").alias("nearby_actions"))
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "sort_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 15
    """,
)
def sort_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans this as TakeOrderedAndProject — each task
    keeps a k-row heap, the driver merges k*tasks rows; no full sort at
    scale.  o_orderkey tie-break makes the k-th row deterministic."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(15)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "sort_multi_key",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_acctbal < 0
    ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort (range-partitioned exchange at scale)."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .orderBy(F.col("c_mktsegment").asc(), F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE p.p_size <= 10
      AND l.l_extendedprice = (SELECT MIN(l2.l_extendedprice) FROM lineitem l2
                               WHERE l2.l_partkey = p.p_partkey)
    GROUP BY 1, 2, 3, 4
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-price supplier via a correlated
    scalar subquery.  Catalyst decorrelates into an aggregate + join —
    verified to run as two hash joins, never per-row re-execution."""
    for name in ("part", "lineitem", "supplier"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"{name}_q2")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal
        FROM part_q2 p
        JOIN lineitem_q2 l ON l.l_partkey = p.p_partkey
        JOIN supplier_q2 s ON l.l_suppkey = s.s_suppkey
        WHERE p.p_size <= 10
          AND l.l_extendedprice = (SELECT MIN(l2.l_extendedprice) FROM lineitem_q2 l2
                                   WHERE l2.l_partkey = p.p_partkey)
        GROUP BY 1, 2, 3, 4
        """
    )


@query(
    "q16_supplier_cnt_excluding",
    oracle="""
    SELECT p.p_brand, p.p_type, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#11'
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
)
def q16_supplier_cnt_excluding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-count with a NOT IN exclusion subquery
    (planned as a null-aware anti join — the correctness-subtle join type)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#11")
    li = load_table(spark, sf_dir, "lineitem")
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2, 3, 4
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a HAVING
    threshold, re-joined for detail — aggregate-as-semi-join-filter."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(units("l_quantity", 4)).alias("q4"))
        .filter(F.col("q4") > 150 * 10000)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(F.sum(units("l_quantity", 4)).alias("q4"))
        .withColumn("total_qty", F.expr("q4 / 10000.0D"))
        .drop("q4")
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue_delta,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive predicates + one global
    aggregate — the pushdown-efficiency benchmark (every predicate reaches
    the parquet reader; zero joins, zero group keys).

    The price x discount product is a 6-dp value, so the scale-6 unit sum
    is the exact rational the oracle's DECIMAL(38,8)->DOUBLE cast rounds;
    one exact int->double divide lands on the same correctly-rounded
    double while keeping the hot path in long arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        # hi/lo split (see hl_sums): a direct scale-6 sum overflows int64 —
        # and ANSI-aborts — near sf~8000 of filtered rows; split, both
        # part-sums are safe past sf~6e6.  The finalizer rebuilds the exact
        # sum in double and divides ONCE (bit-identical to r6/1e6 while the
        # sum < 2^53).
        .select((units("l_extendedprice", 2) * units("l_discount", 4)).alias("r6u"))
        .agg(
            *hl_sums("r6u", "r", non_negative=True),
            F.count("*").alias("n_items"),
        )
        .select(
            F.expr(hl_double("r", 6)).alias("revenue_delta"),
            "n_items",
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(ROUND(SUM({_REVENUE_SQL}), 4) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate -> max-of-aggregate scalar subquery ->
    join back (the 'view' query).  The 1-row max broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_rev6()).alias("r6"))
        .withColumn("total_revenue", F.expr("((r6 + 50) DIV 100) / 10000.0D"))
        .drop("r6")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT CAST(ROUND(SUM({_REVENUE_SQL}), 4) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#33' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs residual over a join.  The optimizer
    extracts the common sub-predicates it can (brand IN (...) pushes to the
    part scan); the full disjunction evaluates as a join residual."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (p.p_brand == "Brand#11") & p.p_size.between(1, 15) & li.l_quantity.between(1, 20)
    ) | (
        (p.p_brand == "Brand#22") & p.p_size.between(10, 30) & li.l_quantity.between(10, 30)
    ) | (
        (p.p_brand == "Brand#33") & p.p_size.between(20, 50) & li.l_quantity.between(20, 40)
    )
    return (
        li.join(F.broadcast(p), (p.p_partkey == li.l_partkey) & cond)
        .withColumn("r6u", _rev6())
        .agg(*hl_sums("r6u", "r", non_negative=True), F.count("*").alias("n_items"))
        .withColumn(
            "revenue", F.expr(hl_round_4dp("r"))
        )
        .drop("rhi", "rlo")
    )


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional-sum pivot over a fact-fact join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_share",
    oracle=f"""
    SELECT CAST(ROUND(100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%%'
                         THEN {_REVENUE_SQL} ELSE CAST(0 AS DECIMAL(18,4)) END), 4) AS DOUBLE)
           / CAST(ROUND(SUM({_REVENUE_SQL}), 4) AS DOUBLE) AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional decimal sums on a
    broadcast-joined month slice, one division at the end."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    promo = F.col("p_type").like("PROMO%")
    # Unit algebra: numerator value x100 at scale 4 is exactly the scale-6
    # unit sum N6 (ROUND((N6*100 + 50) DIV 100, 4) == N6), so the rounded
    # numerator double is N6/1e4; the denominator follows the standard
    # half-up finalization.  Both sides reproduce the oracle's
    # ROUND->DOUBLE values bit-exactly before the one double division.
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .withColumn("r6u", _rev6())
        .withColumn("p6u", F.when(promo, F.col("r6u")).otherwise(F.lit(0)))
        .agg(
            *hl_sums("p6u", "n", non_negative=True),
            *hl_sums("r6u", "d", non_negative=True),
            F.count("*").alias("n_items"),
        )
        .select(
            F.expr(f"{hl_double('n', 4)} / {hl_round_4dp('d')}").alias("promo_revenue_pct"),
            "n_items",
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH l AS (SELECT event_id, NULLIF(event_type, 'error') AS et FROM events WHERE event_id % 20 = 0),
         r AS (SELECT DISTINCT NULLIF(event_type, 'error') AS et FROM events)
    SELECT l.event_id, l.et
    FROM l JOIN r ON l.et IS NOT DISTINCT FROM r.et
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other — still a hash join (NULL hashes like any value under
    null-safe equality), unlike `=` which drops NULL rows."""
    e = load_table(spark, sf_dir, "events")
    l = e.filter(F.col("event_id") % 20 == 0).select(
        "event_id", F.nullif("event_type", F.lit("error")).alias("et")
    )
    r = e.select(F.nullif("event_type", F.lit("error")).alias("et")).distinct()
    return l.join(r, l.et.eqNullSafe(r.et)).select(l.event_id, l.et.alias("et"))


@query(
    "explode_outer_arrays",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tx.tokens_sql("SUBSTRING(text, 1, 40)")} AS toks
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT doc_id,
           CASE WHEN LEN(toks) = 0 THEN NULL ELSE UNNEST(CASE WHEN LEN(toks) = 0 THEN [NULL] ELSE toks END) END AS tok
    FROM t
    """,
)
def explode_outer_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with empty arrays survive as a NULL row (the
    left-join flavor of flattening — plain explode silently drops them)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    toks = tx.tokens(F.substring("text", 1, 40))
    return d.select("doc_id", F.explode_outer(toks).alias("tok"))


@query(
    "timeseries_gap_fill",
    oracle="""
    WITH hours AS (
      SELECT user_id,
             UNNEST(GENERATE_SERIES(TIME_BUCKET(INTERVAL '1 hour', MIN(ts)),
                                    TIME_BUCKET(INTERVAL '1 hour', MAX(ts)),
                                    INTERVAL 1 HOUR)) AS hour
      FROM events WHERE user_id < 20 GROUP BY user_id
    ),
    actual AS (
      SELECT user_id, TIME_BUCKET(INTERVAL '1 hour', ts) AS hour, COUNT(*) AS n
      FROM events WHERE user_id < 20 GROUP BY 1, 2
    )
    SELECT h.user_id, h.hour, COALESCE(a.n, 0) AS n_events
    FROM hours h LEFT JOIN actual a ON a.user_id = h.user_id AND a.hour = h.hour
    """,
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time series from sparse events: per-user hourly spine via
    ``sequence`` + explode, left-joined to actual counts (gaps become 0).
    Spine generation is per-group arithmetic — no cross join against a
    calendar table."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    spine = (
        e.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
        )
    )
    actual = e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n")
    )
    return spine.join(actual, ["user_id", "hour"], "left").select(
        "user_id", "hour", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@query(
    "scd2_order_status_history",
    oracle="""
    WITH h AS (
      SELECT o_custkey, o_orderdate, o_orderstatus,
             ROW_NUMBER() OVER w AS rn,
             LEAD(o_orderdate) OVER w AS next_date
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    )
    SELECT o_custkey, o_orderstatus,
           o_orderdate AS valid_from,
           next_date AS valid_to,
           (next_date IS NULL) AS is_current
    FROM h WHERE o_custkey < 100
    """,
)
def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 validity windows: each per-customer order event becomes a
    [valid_from, valid_to) row, the latest marked current — the warehouse
    dimension-history build as ONE window pass (no self-join)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------

# Bucketed tables: shuffle-free co-located joins
# ---------------------------------------------------------------------------

#: bucket count for the co-located join demo — at 100 TB this is sized to
#: (table bytes / target bucket file size), e.g. ~8192 for a 10 TB fact
_BUCKETS = 8


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT c.c_nationkey,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(o.o_totalprice), 4) AS DOUBLE) AS total_spend
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCHANGE-FREE fact-dimension join via Hive-style bucketed tables —
    the missing member of the join family and the canonical 100 TB
    co-location technique: ``bucketBy(N, key).sortBy(key)`` at WRITE time
    pins both tables' layout to the same hash partitioning, so every
    LATER join on that key is a SortMergeJoin with NO shuffle exchange on
    either side (pay the shuffle once at ingest, amortize it over every
    downstream join — the batch analogue of co-partitioned streams).

    The query writes orders + customer bucketed by custkey, re-reads them
    through the session catalog (bucket metadata lives there, not in the
    parquet footers), and joins with a ``merge`` hint so the plan cannot
    fall back to broadcast and silently hide a missing exchange: the
    executed plan's join subtree is pinned shuffle-free by
    ``tests/test_sinks.py::test_bucketed_join_has_no_shuffle_exchange``
    (and the operator itself by ``tests/test_bucketing.py``).  Layout
    plumbing is ``sources/bucketed.py`` — this query is its
    oracle-checked catalog surface.
    Output is the per-nation order rollup, value-checked against DuckDB
    on the source parquet (the bucketed round trip must not change ONE
    row).  Buckets are deliberately NOT sorted within files on the read
    path's sort column alone — SMJ adds in-partition sorts, which never
    shuffle.

    Scale posture: the write is one hash exchange of each table (the cost
    any first join would pay anyway); the join reads N co-bucketed file
    pairs with per-bucket merge — no network movement of either table,
    skew-immune on the bucket key, and the same table serves every
    custkey join in the workload.  Table names are content-addressed by
    sf_dir so fixtures never collide; ``mode("overwrite")`` keeps the
    round-trip idempotent.
    """
    import hashlib as _hl

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders, t_cust = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    bucketed.write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        t_orders,
        ["o_custkey"],
        n_buckets=_BUCKETS,
        sort_cols=["o_custkey"],
    )
    bucketed.write_bucketed(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
        t_cust,
        ["c_custkey"],
        n_buckets=_BUCKETS,
        sort_cols=["c_custkey"],
    )
    o = bucketed.read_table(spark, t_orders)
    c = bucketed.read_table(spark, t_cust)
    return (
        o.hint("merge")
        .join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).cast("double").alias("total_spend"),
        )
    )
