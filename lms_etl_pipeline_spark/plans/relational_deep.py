"""Relational set operations + the second TPC-H wave
(Q4/Q7/Q9/Q11/Q13/Q17/Q20/Q21/Q22) — split from ``plans/relational.py``
along its section boundaries (repo convention: plan modules stay <=
~1,100 LoC).

Shared revenue forms (``_REVENUE_SQL``/``_rev6``) and the determinism
conventions are ``plans/relational``'s docstring; scale notes stay inline
per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.functions.numeric import (
    dec,
    dec_sum,
    hl_double,
    hl_round_4dp,
    hl_sums,
    units,
)
from lms_etl_pipeline_spark.operators.rank import global_ntile
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.relational import _REVENUE_SQL, _rev6
from lms_etl_pipeline_spark.sources.tables import load_table

# Set operations
# ---------------------------------------------------------------------------


@query(
    "unpivot_measures",
    oracle="""
    SELECT o_orderkey, measure, value FROM (
      SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS total_price,
             CAST(o_custkey AS DOUBLE) AS cust_key_num
      FROM orders WHERE o_orderkey % 50 = 0
    ) UNPIVOT (value FOR measure IN (total_price, cust_key_num))
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measures to (key, measure, value) long form —
    plan-time row expansion, no shuffle."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.col("o_custkey").cast("double").alias("cust_key_num"),
        )
    )
    return o.unpivot("o_orderkey", ["total_price", "cust_key_num"], "measure", "value")


@query(
    "subquery_correlated",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders more than twice their customer's
    average.  Catalyst decorrelates this into an aggregate + join — no
    per-row re-execution (the rewrite the reference's eager model can't do).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_sq o
        WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice) FROM orders_sq o2
                                  WHERE o2.o_custkey = o.o_custkey)
        """
    )


@query(
    "set_union_all",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    )
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL via unionByName — no shuffle, pure concatenation."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return c.unionByName(s)


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — planned as an aggregate + semi join."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_nationkey < 13
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics) — anti-join under the hood.

    The right side is a filtered supplier subset: in the fixtures every
    customer nation also has a supplier, so the unfiltered difference is
    structurally empty (a 0=0 match would exercise nothing)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 13)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)


# ---------------------------------------------------------------------------
# TPC-H shapes, second wave: Q4/Q7/Q9/Q11/Q13/Q17/Q20/Q21/Q22
#
# The fixtures lack partsupp, l_commitdate/l_receiptdate, o_comment and
# c_phone, so each query keeps the REFERENCE OPERATOR SHAPE (EXISTS
# semi-join + agg, nation-pair volume, profit decomposition, HAVING over a
# global scalar, count-distribution, correlated scalar subquery, nested
# semi-join, exists/not-exists chain, anti-join + global-avg subquery) with
# predicates re-expressed over available columns.  Divergences are noted
# per query.
# ---------------------------------------------------------------------------


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join, then a
    low-cardinality aggregation.  (No l_commitdate in the fixtures; the
    "late" predicate becomes ``l_returnflag = 'R'``.)

    Scale: the date filter pushes into the orders scan; the semi join
    shuffles on orderkey and carries no lineitem payload (semi joins emit
    left rows only); the agg state is |priorities| rows."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(ROUND(SUM({_REVENUE_SQL}), 4) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation pair, both
    directions, by year.

    Scale: nation broadcasts twice under different aliases; the symmetric
    pair predicate is a residual on the joined row; the only shuffles are
    the two fact-fact joins (lineitem⋈orders, then ⋈customer)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("r6u", _rev6())
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(*hl_sums("r6u", "r", non_negative=True))
        .withColumn(
            "revenue", F.expr(hl_round_4dp("r"))
        )
        .drop("rhi", "rlo")
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(ROUND(SUM({_REVENUE_SQL}
                 - CAST(l.l_quantity AS DECIMAL(12,2)) * CAST(p.p_retailprice AS DECIMAL(12,2))), 4) AS DOUBLE)
             AS sum_profit
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_type = 'ECONOMY'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit decomposition (revenue minus cost) by supplier
    nation and order year.  (No partsupp in the fixtures: ps_supplycost is
    replaced by quantity x p_retailprice — same expression shape, exact
    decimal all the way.)

    Scale: part/supplier/nation broadcast; lineitem⋈orders is the one big
    shuffle; the profit expression is per-row codegen with exact decimals,
    summed order-independently."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    # profit units at scale 6: rev6 minus (qty x retailprice), the cost being
    # a scale-4 product of two scale-2 unit casts, promoted x100 to scale 6.
    # Profit can be NEGATIVE; hl_sums' pmod decomposition keeps lo >= 0 and
    # puts the sign in hi, so S = 1e6*phi + plo holds for any sign mix and
    # both part-sums stay int64-safe past sf~3e6 (a direct scale-6 sum
    # ANSI-aborts near sf~6700 at this query's per-(nation,year) grouping).
    # Half-away-from-zero ROUND(S, 4) from the parts, all-integer:
    #   T = floor(S/100) = 1e4*phi + plo DIV 100   [1e6*phi divisible by
    #       100; plo >= 0 so DIV is floor]
    #   r = pmod(S, 100) = plo % 100               [same divisibility]
    #   round(S/100) = T + 1 iff r > 50, or r = 50 and S >= 0 (<=> T >= 0,
    #       since T = floor(S/100)); else T.
    # One exact int -> double divide finalizes — the same single-rounding
    # discipline, value-identical to the old sign-branch formula (pinned by
    # tests/test_numeric_conventions.py on signed .5 boundaries).
    profit6 = _rev6() - units("l_quantity", 2) * units("p_retailprice", 2) * F.lit(100)
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .withColumn("p6u", profit6)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(*hl_sums("p6u", "p"))
        .withColumn("p6t", F.expr("phi * 10000 + plo DIV 100"))
        .withColumn("p6r", F.expr("plo % 100"))
        .withColumn(
            "sum_profit",
            F.expr(
                "(p6t + CASE WHEN p6r > 50 THEN 1"
                " WHEN p6r = 50 AND p6t >= 0 THEN 1 ELSE 0 END) / 10000.0D"
            ),
        )
        .drop("phi", "plo", "p6t", "p6r")
    )


@query(
    "q11_important_values",
    oracle=f"""
    WITH pv AS (
      SELECT l.l_partkey, SUM({_REVENUE_SQL}) AS value_dec
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey < 5
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(ROUND(value_dec, 4) AS DOUBLE) AS part_value
    FROM pv
    WHERE CAST(ROUND(value_dec, 4) AS DOUBLE)
        > (SELECT CAST(ROUND(SUM(value_dec), 4) AS DOUBLE) * 0.001 FROM pv)
    """,
)
def q11_important_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-key value sums kept only when above a fraction
    of the GLOBAL total — a scalar subquery over the same aggregate.
    (partsupp value becomes lineitem revenue per part from low-key-nation
    suppliers.)

    Scale: the per-part aggregate computes once; the global total is a
    1-row reaggregation of it (not a second corpus scan) broadcast into the
    filter.  Both sides canonicalize ROUND(..,4)->DOUBLE before comparing —
    the scale-8 total's scaled integer exceeds 2^53, where raw
    decimal->double conversion diverges between engines."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    pv = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_rev6()).alias("v6"))
    )
    # The global total re-aggregates the per-part unit sums (Σv6 stays well
    # inside int64 through the fixture decades; the value-level exactness
    # envelope is the same 2^53-scaled bound as the decimal convention).
    total = pv.agg(
        (F.expr("((SUM(v6) + 50) DIV 100) / 10000.0D") * F.lit(0.001)).alias("threshold")
    )
    return (
        pv.join(F.broadcast(total))
        .withColumn("part_value", F.expr("((v6 + 50) DIV 100) / 10000.0D"))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts — a left
    outer join with a join-time residual, then two stacked aggregations.
    (o_comment NOT LIKE becomes an o_orderpriority exclusion.)

    Scale: the outer join shuffles on custkey; the first agg reuses that
    partitioning (no extra shuffle); the second agg is |distinct counts|
    rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11'
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into a grouped aggregate joined back to the
    probe side.

    Scale: the per-part average is |parts| rows (broadcastable); the brand
    filter prunes part before its broadcast; quantities are integral
    doubles, so AVG is exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    per_part = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        # hi/lo split: scale-4 money sums overflow int64 near sf~6000 of
        # group rows (see functions.numeric.units); split, safe past sf~6e6
        .withColumn("p4u", units("l_extendedprice", 4))
        .agg(
            *hl_sums("p4u", "p", non_negative=True),
            F.count("*").alias("n_lines"),
        )
        # a scale-4 unit sum IS a 4-dp value: ROUND(S,4) is the identity,
        # so the finalization is the exact double rebuild + the same two
        # divides as before (value-identical while the sum < 2^53)
        .select(
            F.expr(f"{hl_double('p', 4)} / 7.0D").alias("avg_yearly"),
            "n_lines",
        )
    )


@query(
    "q20_excess_shippers",
    oracle="""
    SELECT s.s_name, s.s_nationkey
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE 'red%'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > 50
    )
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join — suppliers who shipped more than
    a threshold of any filtered part in a year.  (partsupp availability
    becomes shipped-quantity-per-supplier-part.)

    Scale: the inner aggregate groups on (suppkey, partkey) — one shuffle
    over the filtered year slice; the HAVING output is tiny and drives a
    left-semi join into supplier."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return s.join(heavy, s.s_suppkey == F.col("l_suppkey"), "left_semi").select(
        "s_name", "s_nationkey"
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS / NOT-EXISTS pair ("another supplier on
    the order, but no OTHER supplier at fault") decorrelated into ONE
    per-order aggregate: n_suppliers > 1 AND n_flagged_suppliers == 1.
    (l_receiptdate > l_commitdate becomes l_returnflag = 'R'.)

    Scale: the decorrelation replaces two correlated-subquery scans with a
    single groupBy(orderkey) over lineitem — one shuffle, each side reused;
    the classic formulation would scan lineitem three times."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    per_order = li.groupBy(F.col("l_orderkey").alias("po_key")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_supp_r"),
    )
    l1 = li.filter(F.col("l_returnflag") == "R")
    return (
        l1.join(o, l1.l_orderkey == o.o_orderkey)
        .join(per_order, l1.l_orderkey == F.col("po_key"))
        .filter((F.col("n_supp") > 1) & (F.col("n_supp_r") == 1))
        .join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "q22_dormant_balances",
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                              / COUNT(*)
                         FROM customer c2 WHERE c2.c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def q22_dormant_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: anti-join + uncorrelated scalar-average subquery —
    above-average-balance customers with no urgent orders, grouped by
    nation.  (Phone country code becomes c_nationkey; "no orders" becomes
    "no URGENT orders" so the fixtures yield rows.)

    Scale: the global average is a 1-row broadcast; the anti join shuffles
    on custkey against the pre-filtered urgent slice; the final agg is
    |nations| rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((F.sum(dec("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(dec("c_acctbal")), 4).cast("double").alias("totacctbal"),
        )
    )


@query(
    "lateral_topk",
    oracle="""
    SELECT n.n_name, t.o_orderkey, t.o_totalprice
    FROM nation n, LATERAL (
      SELECT o.o_orderkey, o.o_totalprice
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
      LIMIT 3
    ) t
    """,
)
def lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: the 3 largest
    orders per nation, expressed as a lateral top-k (the SQL-standard
    shape; Catalyst plans it as a DomainJoin rewrite -> per-key window,
    not one subquery execution per outer row — the decorrelation an eager
    engine can't do).  Tie-broken on orderkey so the result is a total
    order, exact in both engines."""
    for t in ("nation", "orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_lat")
    return spark.sql(
        """
        SELECT n.n_name, t.o_orderkey, t.o_totalprice
        FROM nation_lat n, LATERAL (
          SELECT o.o_orderkey, o.o_totalprice
          FROM orders_lat o JOIN customer_lat c ON o.o_custkey = c.c_custkey
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
          LIMIT 3
        ) t
        """
    )


def _morton_sql(x: str, y: str, bits: int = 10) -> str:
    """DuckDB expression: Morton-interleave the low ``bits`` of x and y."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def _morton_col(x, y, bits: int = 10):
    """Spark column: Morton-interleave the low ``bits`` of x and y."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@query(
    "zorder_layout_stats",
    oracle=f"""
    WITH z AS (
      SELECT l_orderkey, l_partkey,
             {_morton_sql("(l_orderkey % 1024)", "(l_partkey % 1024)")} AS zkey
      FROM lineitem
    ),
    b AS (
      SELECT l_orderkey, l_partkey,
             NTILE(16) OVER (ORDER BY zkey ASC, l_orderkey ASC, l_partkey ASC)
                 AS bucket
      FROM z
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(l_orderkey % 1024) AS min_ok, MAX(l_orderkey % 1024) AS max_ok,
           MIN(l_partkey % 1024) AS min_pk, MAX(l_partkey % 1024) AS max_pk
    FROM b GROUP BY bucket
    """,
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering for multi-dimensional data skipping —
    the layout optimization behind Delta/Iceberg OPTIMIZE ZORDER: interleave
    the bits of two filter dimensions into one sort key, range-split the
    table on it, and every file/bucket gets a TIGHT min/max range on BOTH
    dimensions (a sort on either single key leaves the other unbounded, so
    scans filtering on it can skip nothing).  Emitted here: per-bucket
    min/max of both dims — the footer stats a scan would prune against.

    The Morton key is 40 bitwise ops in one codegen'd projection; at real
    scale the same key feeds ``repartitionByRange(zkey)`` + sorted parquet
    writes (``tests/test_parquet_partitioning.py`` pins the pruned-scan
    side).  NTILE over (zkey, tiebreak) stands in for the range split —
    deterministic total order, exact in both engines.

    Scale: the NTILE runs over ALL of lineitem, so a naive global window
    would single-partition the corpus.  Instead the exact bucket comes
    from operators/rank.py's ``global_ntile`` with the zkey's high 6 bits
    as the coarse bucket (zkey is a 20-bit Morton code, so ``zkey >> 14``
    is a pure, monotone, CONSTANT-domain 64-way split): one ordinary hash
    shuffle, partitioned row_number, and a 64-row broadcast prefix table —
    the only unpartitioned window left is over those 64 rows
    (machine-checked by tools/audit_plans.py ALLOW_GLOBAL_WINDOW)."""
    li = load_table(spark, sf_dir, "lineitem")
    ok = F.col("l_orderkey") % 1024
    pk = F.col("l_partkey") % 1024
    z = li.select(
        "l_orderkey", "l_partkey", _morton_col(ok, pk).alias("zkey")
    )
    order = [
        F.col("zkey").asc(), F.col("l_orderkey").asc(), F.col("l_partkey").asc()
    ]
    b = global_ntile(
        z, 16, order, F.shiftright("zkey", 14), bucket_col="bucket"
    ).select(ok.alias("ok"), pk.alias("pk"), "bucket")
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("ok").alias("min_ok"),
        F.max("ok").alias("max_ok"),
        F.min("pk").alias("min_pk"),
        F.max("pk").alias("max_pk"),
    )


@query(
    "range_join_binned",
    oracle="""
    WITH err AS (SELECT event_id, ts FROM events WHERE event_type = 'error'),
    act AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase')
    SELECT err.event_id, COUNT(act.event_id) AS nearby_purchases
    FROM err LEFT JOIN act
      ON act.ts BETWEEN err.ts - INTERVAL 2 MINUTE AND err.ts + INTERVAL 2 MINUTE
    GROUP BY err.event_id
    """,
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS time-range join — purchases within ±2 minutes of each error,
    corpus-wide — rewritten as a covering-bin EQUI-join: each error probes
    its own 2-minute bin plus both neighbors, the activity side buckets
    once, and the exact band check runs as a residual on the (small)
    per-bin candidate set.  Without this rewrite a keyless range join is a
    broadcast-nested-loop — quadratic and fatal at 100 TB; with it, the
    plan is a plain hash join on a uniform integer key whose fan-out is
    bounded by 3x regardless of data size.  (When an equi key exists,
    prefer it — see join_interval_events; this is the technique for when
    one doesn't.)  The oracle states the naive BETWEEN semantics; binning
    with covering neighbors is lossless, so results match exactly."""
    bin_us = 2 * 60 * 1_000_000  # 2-minute bins in epoch-microseconds
    e = load_table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.unix_micros("ts").alias("err_us")
    )
    act = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("act_id"),
        F.unix_micros("ts").alias("act_us"),
        (F.unix_micros("ts") / bin_us).cast("bigint").alias("bin"),
    )
    probes = err.select(
        "err_id",
        "err_us",
        F.explode(
            F.array(
                (F.col("err_us") / bin_us).cast("bigint") - 1,
                (F.col("err_us") / bin_us).cast("bigint"),
                (F.col("err_us") / bin_us).cast("bigint") + 1,
            )
        ).alias("bin"),
    )
    hits = (
        probes.join(act, "bin")
        .filter(F.abs(F.col("act_us") - F.col("err_us")) <= bin_us)
        .groupBy("err_id")
        .agg(F.count("act_id").alias("nearby_purchases"))
    )
    return (
        err.select("err_id")
        .join(hits, "err_id", "left")
        .select(
            F.col("err_id").alias("event_id"),
            F.coalesce("nearby_purchases", F.lit(0)).alias("nearby_purchases"),
        )
    )


@query(
    "winsorize_event_values",
    oracle="""
    WITH b AS (
      SELECT event_type,
             ROUND(QUANTILE_CONT(value, 0.05), 6) AS lo,
             ROUND(QUANTILE_CONT(value, 0.95), 6) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 6) AS value_w
    FROM events e JOIN b USING (event_type)
    """,
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clamp each event's measure into its event
    type's [p5, p95] band — the standard outlier-robust pre-aggregation
    treatment (metric pipelines winsorize before averaging so one bot
    session can't move the mean).  Clamp bounds are the ROUNDED exact
    percentiles on both engines, so the comparison is knife-edge-free.

    Scale: one |types|-group exact-percentile aggregate (t-digest
    ``approx_percentile`` is the 100 TB drop-in, same plan shape), then the
    tiny bounds table broadcasts back onto a map-only clamp projection —
    the fact stream never shuffles."""
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("lo"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("hi"),
    )
    return e.join(F.broadcast(b), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.round(F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 6).alias(
            "value_w"
        ),
    )
