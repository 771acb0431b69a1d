"""Relational core: filters, projections, joins, aggregations, sorts, set ops.

Every query here is a lazy DataFrame plan over the parquet fixtures plus an
equivalent DuckDB oracle (SURVEY.md §2.12).  Determinism conventions:

- money sums go through exact DECIMAL and come back as one double cast
  (``functions.numeric.dec_sum``) so results are bit-stable under any
  partitioning — and bit-identical to the oracle's
  ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)``;
- every LIMIT/top-k has a total tie-break order (floats alone don't key rows);
- every computed column is aliased identically in plan and oracle (the
  driver's comparator hashes columns by name).

Scale notes are inline per query: which side broadcasts, where the shuffle
lands, and why the plan survives 1000 executors.
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
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table

# Exact-decimal per-row revenue: extendedprice * (1 - discount).  Decimal
# multiply is exact (scale 4+4=8 digits), so partial/final agg order can't
# change the result.
_REVENUE_SQL = "CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))"


def _revenue() -> F.Column:
    """Decimal reference form of the revenue product — the semantics the
    unit fast path ``_rev6`` must reproduce (kept as the executable
    definition the conventions test pins against; hot paths use _rev6)."""
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))


def _rev6() -> F.Column:
    """Scale-6 BIGINT revenue units: cents(price) x (10000 - bp(discount)).

    Value-identical to ``_revenue()`` (the fixtures' prices are exact cents,
    discounts exact basis points — see ``functions.numeric.units``), but a
    single long multiply per row instead of a BigDecimal scale-8 multiply
    with ANSI overflow checks: measured 2.8x faster on the q1 scan task —
    a per-core gain.  SUM CAPACITY IS NOT UNLIMITED: a direct SUM of
    scale-6 units (~1e11/row max) overflows int64 — and ANSI-aborts — at
    ~9e7 rows per group (whole-table TPC-H groups: sf~150), so every
    fact-table sum of this product over UNBOUNDED groups goes through
    ``hl_sums``' hi/lo split (capacity ~9e12 rows/group, sf~6e6);
    finalizers rebuild the exact sum in double and divide once
    (single-rounding discipline, value-identical to the unsplit formulas
    while the sum < 2^53 — the decimal convention's own exactness
    envelope).  See q1's comment block for the per-measure rounding
    decompositions.  Direct ``F.sum(_rev6())`` remains ONLY where the
    group key bounds the group at any SF (q3 per order ~7 rows, q10 per
    customer, q15 per supplier, q11 per part — fixed fan-out ratios in
    the schema), where the unsplit sum is exact and abort-free forever.
    """
    return units("l_extendedprice", 2) * (F.lit(10000) - units("l_discount", 4))


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM({_REVENUE_SQL}), 4) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(6,4)))
                    * (1 + CAST(l_tax AS DECIMAL(6,4)))), 4) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy partial+final hash aggregation.

    Scale: the filter and the 7-column projection push into the parquet scan;
    the shuffle moves only ~|groups| * partial-state rows (4 groups here), so
    the plan is scan-bound at any SF — exactly what you want at 100 TB.

    Measured floor note (local[32], sf0.1): the fixture is ONE file with ONE
    row group, so scan + partial agg serialize on one core; an explicit
    repartition does NOT help — the single scan task then pays the same
    cost as shuffle write.  The fix is data layout (more row groups /
    files — see ``sources.parquet_io``), never a plan change; at real
    scale the layout provides the parallelism.  Within that single task,
    integer-unit aggregation (see ``_rev6``/``units``) cut the stage from
    ~1.4 s to ~0.5 s — per-core arithmetic cost, which survives at any
    layout.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Integer-unit formulation (value-identical to the decimal oracle; see
    # _rev6/units): q/p/d as scale-4 bigints, revenue m at scale 6, charge c
    # at scale 10 = cents x (1-d) x (1+t) basis points — exactly the
    # oracle's (12,2)x(6,4)x(6,4) decimal product.  Every money sum rides
    # the hi/lo split (functions.numeric.hl_sums): summing p4 (~1e9/row),
    # m6 (~1e11/row), or c10 (~1e15/row) directly would overflow int64 —
    # and ABORT under ANSI — at whole-table group sizes of sf~6000, sf~150,
    # and sf~8 respectively; split, every part-sum is safe past sf~6e6.
    # c10 splits THREE ways (1e12/1e6/1): its mid digits are themselves a
    # second hl_sums over the scale-10 value's 1e6-quotient.
    # Finalizers reconstruct each exact sum in ONE double expression and
    # divide ONCE (single-rounding discipline — bit-identical to the
    # unsplit formulas while the true sum < 2^53, the decimal convention's
    # own exactness envelope):
    #   S(p4)  = 1e6*phi + plo
    #   ROUND(S(m6), 4)-as-scale-4-int = 1e4*mhi + (mlo + 50) DIV 100
    #     [exact: 1e6*mhi is divisible by 100 and mlo >= 0]
    #   S(c10) = 1e12*chhi + 1e6*chlo + clo, so its scale-4 half-up round
    #     is 1e6*chhi + chlo + (clo + 5e5) DIV 1e6.
    u = li.filter(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        units("l_quantity", 4).alias("q4"),
        units("l_extendedprice", 4).alias("p4"),
        units("l_discount", 4).alias("d4"),
        _rev6().alias("m6"),
        (_rev6() * (F.lit(10000) + units("l_tax", 4))).alias("c10"),
    )
    return (
        u.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("q4").alias("sq4"),
            F.count("q4").alias("nq"),
            *hl_sums("p4", "p", non_negative=True),
            F.count("p4").alias("np"),
            *hl_sums("m6", "m", non_negative=True),
            *hl_sums("c10 DIV 1000000", "ch", non_negative=True),
            F.expr("SUM(c10 % 1000000)").alias("clo"),
            F.sum("d4").alias("sd4"),
            F.count("d4").alias("nd"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.expr("sq4 / 10000.0D").alias("sum_qty"),
            F.expr(hl_double("p", 4)).alias("sum_base_price"),
            F.expr(hl_round_4dp("m")).alias("sum_disc_price"),
            F.expr(
                "(chhi * 1000000.0D + chlo + (clo + 500000) DIV 1000000) / 10000.0D"
            ).alias("sum_charge"),
            F.expr("sq4 / 10000.0D / nq").alias("avg_qty"),
            F.expr(f"{hl_double('p', 4)} / np").alias("avg_price"),
            F.expr("sd4 / 10000.0D / nd").alias("avg_disc"),
            "count_order",
        )
    )


@query(
    "agg_distinct_counts",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: Spark expands COUNT(DISTINCT) into a two-phase
    partial-distinct plan automatically; no row explosion at scale."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice", "sum_price"),
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — subtotals + grand total in one shuffle.
    Quantity sums ride the integer-unit fast path (``units``; exact for
    the ≤4-dp domain, single long add per row vs a decimal accumulate).

    DOCUMENTED ENGINE DIVERGENCE on zero-row input: the SQL standard (and
    DuckDB/PostgreSQL) emit the () grand-total grouping-set row even over
    an empty table; Spark returns an empty result.  Pinned by
    tests/test_empty_fixture.py; see tools/make_sf0.py."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(units("l_quantity", 4)).alias("q4"), F.count("*").alias("n"))
        .withColumn("sum_qty", F.expr("q4 / 10000.0D"))
        .drop("q4")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM({rev}), 4) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """.format(rev=_REVENUE_SQL),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 4 grouping combinations, still one pass."""
    return (
        load_table(spark, sf_dir, "lineitem")
        # hi/lo split: the () grand-total group sums scale-6 revenue over
        # the WHOLE table — a direct int64 sum ANSI-aborts near sf~150
        .withColumn("r6u", _rev6())
        .cube("l_returnflag", "l_linestatus")
        .agg(*hl_sums("r6u", "r", non_negative=True), F.count("*").alias("n"))
        .withColumn(
            "revenue", F.expr(hl_round_4dp("r"))
        )
        .drop("rhi", "rlo")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query("agg_approx_count_distinct", oracle=None)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch — the 100 TB path for distinct counts (constant
    memory vs the exact expansion).  Approximate by design => no SQL oracle;
    driver records the rows-only check."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"))
    )


@query("sketch_hll_partial_merge", oracle=None)
def sketch_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB aggregation pattern: build one
    HLL sketch per fine-grained group (nation), then merge sketches up to
    the coarse level (region) with ``hll_union_agg`` instead of rescanning
    the fact table.  At scale the fine sketches are tiny materialized
    aggregates (think: daily partitions) and any rollup — region, week,
    global — is a sketch union, not a second pass over 100 TB.

    Approximate by design (rows-only); exact anchor: the same rollup via
    COUNT(DISTINCT) in ``agg_distinct_counts`` / ``flagship`` family.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "n_nationkey")
        .agg(F.hll_sketch_agg("c_custkey").alias("sk"))
    )
    return (
        per_nation.groupBy("n_regionkey")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers"))
    )


@query("sample_stratified_by_priority", oracle=None)
def sample_stratified_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-key fraction) sampling via ``sampleBy`` — quota
    sampling for building eval sets from skewed strata without a full
    shuffle (per-row Bernoulli keyed on the stratum, seeded).  Seeded but
    engine-specific randomness => rows-only; the sibling ``sample_fraction``
    documents the same contract for uniform sampling."""
    o = load_table(spark, sf_dir, "orders")
    fractions = {"1-URGENT": 0.2, "2-HIGH": 0.1, "3-MEDIUM": 0.05}
    return o.sampleBy("o_orderpriority", fractions, seed=42).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


@query(
    "agg_incremental_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a 'yesterday' partial aggregate
    merged with a 'today' delta batch's partial — proven identical to
    recomputing over the full table (the oracle).  The decomposable-state
    pattern (count→sum, sum→sum, max→max; exact DECIMAL partials so merge
    order can't leak) is what lets a 100 TB rollup absorb a daily delta by
    touching only the delta + the stored partials, never the history.
    """
    o = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(dec("o_totalprice")).alias("_sum_dec"),
            F.max("o_totalprice").alias("max_price"),
        )

    base = partial(o.filter(F.col("o_orderkey") % 10 != 0))  # stored rollup
    delta = partial(o.filter(F.col("o_orderkey") % 10 == 0))  # today's batch
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("_sum_dec").cast("double").alias("total_price"),
            F.max("max_price").alias("max_price"),
        )
        .select("o_orderpriority", "n_orders", "total_price", "max_price")
    )


@query(
    "agg_min_max_by",
    oracle="""
    SELECT o_orderpriority,
           (MIN({'p': o_totalprice, 'k': o_orderkey})).k AS cheapest_order,
           (MAX({'p': o_totalprice, 'k': o_orderkey})).k AS priciest_order,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax) aggregates — one pass, no self-join.

    Tie-DETERMINISTIC: the argmin/argmax runs over the lexicographic
    (price, orderkey) struct, so among equally-cheap orders the lowest
    orderkey wins and among equally-pricey orders the highest — a total
    order with no choice left to the engine.  (Found by the ~sf1
    adversarial sweep: replicated data makes extreme-price ties real, and
    a bare min_by/max_by then diverges between engines.)  Same plan as
    the bare form: one partial+final aggregate, struct comparison is
    codegen'd.
    """
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.min(F.struct(F.col("o_totalprice").alias("p"),
                           F.col("o_orderkey").alias("k")))["k"]
            .alias("cheapest_order"),
            F.max(F.struct(F.col("o_totalprice").alias("p"),
                           F.col("o_orderkey").alias("k")))["k"]
            .alias("priciest_order"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "agg_stats_exact",
    oracle="""
    WITH m AS (
      SELECT c_nationkey,
             COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)) * CAST(c_acctbal AS DECIMAL(18,4)))
                  AS DOUBLE) AS s2
      FROM customer GROUP BY c_nationkey
    )
    SELECT c_nationkey, n,
           ROUND(s1 / n, 6) AS mean_bal,
           ROUND((s2 - s1 * s1 / n) / (n - 1), 6) AS var_bal,
           ROUND(SQRT((s2 - s1 * s1 / n) / (n - 1)), 6) AS std_bal
    FROM m WHERE n > 1
    """,
)
def agg_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic variance/stddev from exact decimal moments.

    Built-in ``stddev`` streams floating-point state whose value depends on
    partition merge order — fine statistically, wrong for differential
    testing and bit-reproducibility.  Computing the (exact, order-free)
    decimal moments S1/S2 first and deriving var/std with a fixed handful
    of IEEE ops makes the result identical on every engine and every
    partitioning.  Same shuffle cost as the built-in (one partial+final agg).
    """
    c = load_table(spark, sf_dir, "customer")
    m = c.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.sum(dec("c_acctbal")).cast("double").alias("s1"),
        F.sum(dec("c_acctbal") * dec("c_acctbal")).cast("double").alias("s2"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    return m.filter(F.col("n") > 1).select(
        "c_nationkey",
        "n",
        F.round(F.col("s1") / F.col("n"), 6).alias("mean_bal"),
        F.round(var, 6).alias("var_bal"),
        F.round(F.sqrt(var), 6).alias("std_bal"),
    )


@query(
    "agg_percentiles_exact",
    oracle="""
    SELECT o_orderpriority,
           ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS p50_price,
           ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4) AS p90_price,
           ROUND(QUANTILE_CONT(o_totalprice, 0.99), 4) AS p99_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics) per group.

    Spark's ``percentile`` sorts within the aggregation buffer and linearly
    interpolates at rank (n-1)*p — the same definition DuckDB's
    QUANTILE_CONT uses, so results match to the last interpolation ulp;
    one ROUND(4) on both sides absorbs it.  The scale path for percentiles
    over billions of rows is ``approx_percentile`` (t-digest sketch, fixed
    memory, mergeable partials); this exact query is its correctness
    anchor, same pattern as approx_count_distinct / agg_distinct_counts.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99_price"),
    )


@query(
    "agg_approx_percentiles",
    oracle=None,  # t-digest sketch: engine-specific; exact anchor = agg_percentiles_exact
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (fixed-memory mergeable sketch) — the 100 TB
    percentile path; rows-only checked, anchored by agg_percentiles_exact."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("approx_percentile(o_totalprice, 0.5, 10000)"), 4).alias("p50_price"),
        F.round(F.expr("approx_percentile(o_totalprice, 0.9, 10000)"), 4).alias("p90_price"),
    )


@query(
    "agg_salted_skew",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-stage aggregation, differentially proven identical
    to the plain ``GROUP BY``.

    ``o_orderpriority`` has 5 values, so a naive groupBy funnels ~20% of the
    table into each of 5 reducers no matter how many executors exist.
    ``operators.skew.salted_agg`` pre-aggregates on (key, salt) — spreading
    every hot key over n=8 reducers — then combines the ≤8 exact-decimal
    partials per key.  Decimal partial sums make the two-stage result
    bit-identical to the one-stage oracle regardless of salt assignment.
    """
    from lms_etl_pipeline_spark.operators.skew import salted_agg

    o = load_table(spark, sf_dir, "orders")
    out = salted_agg(
        o,
        ["o_orderpriority"],
        {
            "n_orders": (F.count("*"), "sum"),
            "total_price": (F.sum(dec("o_totalprice")), "sum"),
        },
        n=8,
    )
    return out.select(
        "o_orderpriority",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT o_custkey,
           ARRAY_TO_STRING(LIST(o_orderkey ORDER BY o_orderkey), ',') AS order_keys,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_custkey < 50
    GROUP BY o_custkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per-customer order-key list.  ``collect_list`` is
    shuffle-order-nondeterministic, so the engine convention is an explicit
    ``array_sort`` on top — reproducible AND comparable across engines.
    The list is serialized with ``array_join`` because the driver's
    pandas-based comparator cannot hash raw array cells."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 50)
        .groupBy("o_custkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("o_orderkey")), ",").alias("order_keys"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, TIME_BUCKET(INTERVAL '1 day', MIN(ts)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             DATE_DIFF('day', f.cohort_day, TIME_BUCKET(INTERVAL '1 day', e.ts)) AS day_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT f.cohort_day,
           CAST(a.day_offset AS INTEGER) AS day_offset,
           COUNT(*) AS n_active
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    WHERE a.day_offset <= 7
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, activity counted
    per day-offset (the product-analytics staple).  Two aggregations + one
    equi-join on user_id; the cohort table is user-cardinality (small
    relative to events) and broadcastable at scale."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_active"))
    )


@query("sample_fraction", oracle=None)
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli sampling with a fixed seed (reproducible within Spark for a
    fixed partitioning; engine-specific RNG => rows-only check).  At scale a
    sample is a scan-time coin flip — no shuffle, no materialization."""
    return (
        load_table(spark, sf_dir, "orders")
        .sample(fraction=0.1, seed=42)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "distinct_projection",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = groupBy on all projected columns (hash, partial+final)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# Filters / projections
# ---------------------------------------------------------------------------


@query(
    "filter_project_casts",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
           CASE WHEN l_quantity >= 30 THEN 'bulk' WHEN l_quantity >= 10 THEN 'mid' ELSE 'small' END AS qty_band,
           TRY_CAST(l_returnflag AS INTEGER) AS rf_int,
           CAST(l_quantity AS BIGINT) AS qty_int
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def filter_project_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive filter + expression projection + try_cast null-on-error.

    Scale: all four predicates and the 6-column read schema push into the
    parquet scan (PushedFilters in explain); revenue is computed in exact
    decimal then canonicalized via ROUND(..,4)→DOUBLE so both engines emit
    the identical IEEE value (decimal result *scale* differs between Spark
    and DuckDB, which a value hasher sees as different values).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).withColumn("__m6", _rev6()).select(
        "l_orderkey",
        "l_linenumber",
        # per-row units finalization: m6 < 1.1e11, so the scale-4 integer
        # stays far below 2^53 and the divide is exact (same convention as
        # the decimal ROUND(..,4)->DOUBLE it replaces)
        F.expr("((__m6 + 50) DIV 100) / 10000.0D").alias("revenue"),
        F.when(F.col("l_quantity") >= 30, "bulk")
        .when(F.col("l_quantity") >= 10, "mid")
        .otherwise("small")
        .alias("qty_band"),
        F.col("l_returnflag").try_cast("int").alias("rf_int"),
        F.col("l_quantity").cast("bigint").alias("qty_int"),
    )


@query(
    "null_handling",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'N/A') AS seg_or_na,
           (c_acctbal IS NULL) AS bal_missing,
           IFNULL(TRY_CAST(NULLIF(c_name, c_name) AS DOUBLE), -1.0) AS always_fallback
    FROM customer
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalar surface: coalesce / nullif / isnull / ifnull."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("N/A")).alias("seg_or_na"),
        F.isnull("c_acctbal").alias("bal_missing"),
        F.ifnull(F.nullif("c_name", "c_name").try_cast("double"), F.lit(-1.0)).alias(
            "always_fallback"
        ),
    )


# ---------------------------------------------------------------------------
