"""Exact order statistics at scale: radix selection instead of a sort.

The engine already ships the *approximate* quantile family
(``agg_approx_percentiles`` — Spark's Greenwald-Khanna sketch, rows-only
by design) and exact single-column medians where the plan can afford a
windowed sort.  What it lacked is the operator a 100 TB column actually
needs: an EXACT quantile with neither a global sort (all-to-all range
shuffle of every row) nor an approximation bound.

``operators.selection.quantiles_by_radix`` is that operator: FOUR
bounded aggregate passes for ALL requested quantiles at once (16-bit
digits, <=65536-row collect per pass, pass 1 shared across quantiles and
yielding n for free — the GD-trainer bounded-driver-loop class), exact by
construction.  This module registers the oracle-checkable plan over it;
the single-k 8-bit ``kth_smallest`` remains for one-off ranks.

Scale posture: data movement is <=65536 exact counts per distinct
surviving prefix per pass, independent of n; the scans are narrow
column-pruned reads over a frame materialized ONCE via the deployment
seam and released at the end.  K quantiles cost 4 counting aggregates
TOTAL over the cached integer column — at 100 TB that is the difference
between "4 map-reduce counts" and "sort 100 TB".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators.selection import quantiles_by_radix
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.session import local_frame, materialize, release
from lms_etl_pipeline_spark.sources.tables import load_table

#: quantiles reported by quantile_exact_selection (lower-nearest rank:
#: 1-indexed k = 1 + floor(q * (n - 1)) — one IEEE product per quantile,
#: identical in Python and DuckDB)
_QUANTILES = (0.25, 0.5, 0.9, 0.99)

_ORACLE = f"""
    WITH v AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM v)
    SELECT qs.q, r.cents, r.cents / 100.0 AS value
    FROM (VALUES {", ".join(f"(CAST({q} AS DOUBLE))" for q in _QUANTILES)}) qs(q)
    CROSS JOIN n
    JOIN r ON r.rn = 1 + CAST(FLOOR(qs.q * (n.n - 1)) AS BIGINT)
"""

_OUT_SCHEMA = "q double, cents bigint, value double"


@query("quantile_exact_selection", oracle=_ORACLE)
def quantile_exact_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p25/p50/p90/p99 of lineitem price without a global sort: one
    BATCHED 16-bit radix selection over exact integer cents — FOUR
    aggregate passes total for all four quantiles, pass 1 doubling as the
    row count (``operators.selection.quantiles_by_radix``; the one-k-at-
    a-time loop was 33 Spark jobs / 5.9 s exec at sf0.1, this is 4 jobs /
    sub-second).  The oracle sorts — the point is that at oracle scale
    DuckDB *can* sort, while this plan's shape is the one that still
    works when the column is 100 TB.  Output: one row per quantile with
    the exact cents and the decoded money value (one IEEE division,
    bit-identical cross-engine).  Empty column -> empty result, mirroring
    the oracle's empty join (the sf0 degenerate sweep).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = materialize(
        li.filter(F.col("l_extendedprice").isNotNull()).select(
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
        )
    )
    try:
        rows = [
            (q, c, c / 100.0)
            for q, c in quantiles_by_radix(cents, "cents", _QUANTILES)
        ]
    finally:
        release(cents)
    return local_frame(spark, rows, _OUT_SCHEMA)
