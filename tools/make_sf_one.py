"""Synthesize the ONE-ROW fixture: every table, exactly one row.

The companion to tools/make_sf0.py on the degenerate-input axis: zero rows
exercise NULL-propagation through aggregates, but n=1 reaches the places
empties can't — the n-1 sample-variance denominators, zero-variance
normalizations, single-class AUC pair counts, 1x1 contingency tables, and
a centered embedding cloud whose norm is exactly 0.  Sweeping the catalog
against it found ten real ANSI-abort defects (ab-test variance,
ANOVA dof, Pearson/ OLS variance products, CUSUM sigma, KS one-sided CDF,
Cramer's 1x1 table, AUC with one class, PCA zero-norm direction) plus one
empty-split semantics divergence (embedding_centroid_drift) and one
cross-engine literal-parsing hazard (DuckDB parses bare float literals via
DECIMAL and double-rounds — wilson's z-constants now inject as
CAST('<repr>' AS DOUBLE)).

FK consistency is deliberately NOT preserved (each table keeps its first
row by key) — joins that find no partner are part of the degeneracy being
tested.

Usage:
    python tools/make_sf_one.py [out_dir]        (default .scratch/sf_one)
    python tools/check_oracle.py .scratch/sf_one (the sweep)

Expected sweep result: every oracle-backed query passes.
tests/test_degenerate_fixture.py pins the formerly-failing queries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.make_sf0 import TABLES  # noqa: E402 - same table list

DEFAULT_OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf_one"
)


def build(spark, out_dir: str = DEFAULT_OUT, src: str = "/root/testdata/sf0.001") -> str:
    """One row per table: the first by the leading key column, so the
    fixture is deterministic across rebuilds."""
    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        df.orderBy(df.columns[0]).limit(1).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")
    return out_dir


def main() -> int:
    from lms_etl_pipeline_spark.session import get_spark

    out = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_OUT
    spark = get_spark("make-sf-one")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, out)
    print(f"one-row fixture written to {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
