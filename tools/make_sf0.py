"""Synthesize the ZERO-ROW fixture: every table, correct schema, no data.

A production pipeline regularly meets empty inputs (a filter that matched
nothing, an empty ingest day, a new tenant), and "works on data" says
nothing about whether a global aggregate divides by its own zero count, a
writer round-trip loses its schema, or a model fit crashes on a headless
frame.  Sweeping the WHOLE catalog against this fixture found real defects
(hard crashes: wilson_conversion_ci, lsh_recall_eval,
curated_corpus_partitioned_write, knn_cosine_ivf; empty-semantics
divergences: etl_dq_violations, gini_concentration,
cramers_v_association); tests/test_empty_fixture.py pins them.

Usage:
    python tools/make_sf0.py [out_dir]          (default .scratch/sf0)
    python tools/check_oracle.py .scratch/sf0   (the sweep)

Expected sweep result: every oracle-backed query passes except two standing
failures, agg_cube and agg_rollup — a DOCUMENTED ENGINE DIVERGENCE, not
a defect in this repo: the SQL standard (and DuckDB/PostgreSQL) emit the
grand-total grouping-set row even over zero input rows, while Spark's
CUBE/ROLLUP return an empty result.  tests/test_empty_fixture.py pins both
the fixed queries and this divergence, so a Spark upgrade that changes the
behavior is noticed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import TABLES  # noqa: E402 - the fixture table list

DEFAULT_OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf0"
)


def build(spark, out_dir: str = DEFAULT_OUT, schema_src: str = "/root/testdata/sf0.001") -> str:
    """Write a zero-row parquet per table, schemas copied from a real
    fixture (LIMIT 0 preserves the exact parquet logical types, including
    events.ts TIMESTAMP(NANOS))."""
    for t in TABLES:
        df = spark.read.parquet(f"{schema_src}/{t}.parquet")
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
    return out_dir


def main() -> int:
    from lms_etl_pipeline_spark.session import get_spark

    out = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_OUT
    spark = get_spark("make-sf0")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, out)
    print(f"zero-row fixture written to {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
