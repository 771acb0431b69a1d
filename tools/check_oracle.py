"""Spark-vs-DuckDB differential check over the query catalog.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares row count, column
names, and order-insensitive values (exact, NaN-safe).  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

Exit code 0 iff every checked query matches.  ``duck_views`` and ``check``
are the seam the test suite uses for the same comparison.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

#: the fixture tables every ``sf_dir`` holds, one parquet file or directory each
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: rows-only query -> its named EXACT anchors, each oracle-backed (the
#: COVERAGE.md table; tests/test_catalog.py checks it covers exactly the
#: catalog's rows-only set)
ROWS_ONLY_ANCHORS: dict[str, tuple[str, ...]] = {
    "agg_approx_count_distinct": ("agg_distinct_counts",),
    "agg_approx_percentiles": ("agg_percentiles_exact",),
    "sketch_hll_partial_merge": ("agg_distinct_counts",),
    "dedup_simhash": ("simhash_exact_pairs",),
    "knn_cosine_lsh": ("knn_cosine_exact", "ann_recall_eval"),
    "knn_cosine_ivf": ("knn_cosine_exact", "ann_recall_eval"),
    "sample_fraction": ("sample_stable_per_group",),
    "sample_stratified_by_priority": (
        "sample_stable_per_group",
        "systematic_sample_stratified",
    ),
}


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            # canonicalize signed zero: -0.0 == 0.0 in SQL but reprs (and
            # hashes) differ, and WHICH zero IEEE min/max/subtraction
            # return is engine-dependent
            return 0.0
        return v
    return v


def hugeint_columns(rel) -> list[str]:
    """Columns of a DuckDB relation whose native cell class diverges from
    the Spark fetch path's at equal values: int128 (HUGEINT) and ANY
    DECIMAL(p,s).

    The external driver hashes cells by native type: HUGEINT mismatches
    Spark's BIGINT, and a DECIMAL column fetches as ``decimal.Decimal``
    whose hash/repr differs from Spark's int/float even when every value
    is equal.  Our fetchall() comparator normalizes both classes -> Python
    scalars and is blind to them, so this gate makes the defect
    structurally detectable: every integer aggregate in an oracle must be
    CAST(... AS BIGINT) (split into BIGINT limbs if the sum can exceed
    int64), and no query may emit a decimal-typed output column on either
    side.
    """
    return [
        c
        for c, t in zip(rel.columns, (str(t) for t in rel.types))
        if "HUGEINT" in t or "DECIMAL" in t
    ]


def spark_decimal_columns(sdf) -> list[str]:
    """Spark-side twin of the decimal rule: output DecimalType columns
    fetch as ``decimal.Decimal`` and diverge in the driver's native-type
    hashing exactly like DuckDB DECIMAL does (same defect class from the
    other engine)."""
    return [c for c, t in sdf.dtypes if t.startswith("decimal")]


# Refuse to materialize comparator inputs past this many rows.  Guards the
# harness against result sets that are quadratic in data properties (e.g.
# simhash_exact_pairs' lossless blocking on a duplicate-dense adversarial
# corpus): the gate then FAILS with a named bound instead of OOMing the
# collect.  The probe is a LIMIT bound+1, so the common case costs nothing
# extra — when under the bound, the probe IS the full result.
MAX_COMPARE_ROWS = int(os.environ.get("ORACLE_MAX_COMPARE_ROWS", "2000000"))


#: native Python classes treated as one family for the cross-engine cell
#: class check (bool is deliberately NOT folded into int)
_CLASS_FAMILIES = {"bytearray": "bytes", "bytes": "bytes"}


def _cell_family(v) -> str:
    n = type(v).__name__
    return _CLASS_FAMILIES.get(n, n)


def native_class_divergences(s_rows, s_idx, duck_rows, d_idx, cols) -> list[str]:
    """Columns whose first non-null cell has a DIFFERENT native Python
    class on the two fetch paths.

    Generalizes the HUGEINT/DECIMAL rules: a hasher that keys on native
    type sees int-vs-Decimal, float-vs-Decimal, or date-vs-datetime
    diverge even at equal values, while the repr-based comparator can be
    blind to some of them.
    """
    out = []
    for c in cols:
        sv = next((r[s_idx[c]] for r in s_rows if r[s_idx[c]] is not None), None)
        dv = next((r[d_idx[c]] for r in duck_rows if r[d_idx[c]] is not None), None)
        if sv is None or dv is None:
            continue
        if _cell_family(sv) != _cell_family(dv):
            out.append(
                f"native cell class diverges in column {c!r}: "
                f"spark={type(sv).__name__} duck={type(dv).__name__}"
            )
    return out


def compare(name: str, spark_df, duck_rows, duck_cols) -> list[str]:
    problems: list[str] = []
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_cols)
    if s_cols != d_cols:
        return [f"schema mismatch: spark={s_cols} duck={d_cols}"]
    s_rows = spark_df.limit(MAX_COMPARE_ROWS + 1).collect()
    if len(s_rows) > MAX_COMPARE_ROWS or len(duck_rows) > MAX_COMPARE_ROWS:
        return [
            f"result exceeds the {MAX_COMPARE_ROWS}-row comparator bound "
            f"(spark>{len(s_rows) - 1 if len(s_rows) > MAX_COMPARE_ROWS else len(s_rows)}, "
            f"duck>{len(duck_rows) - 1 if len(duck_rows) > MAX_COMPARE_ROWS else len(duck_rows)}) "
            "— candidate blow-up? raise ORACLE_MAX_COMPARE_ROWS to override"
        ]
    if len(s_rows) != len(duck_rows):
        problems.append(f"rowcount mismatch: spark={len(s_rows)} duck={len(duck_rows)}")
    s_idx = {c: i for i, c in enumerate(spark_df.columns)}
    d_idx = {c: i for i, c in enumerate(duck_cols)}
    problems.extend(
        native_class_divergences(s_rows, s_idx, duck_rows, d_idx, s_cols)
    )
    s_vals = sorted(
        tuple(repr(_norm_cell(r[s_idx[c]])) for c in s_cols) for r in s_rows
    )
    d_vals = sorted(
        tuple(repr(_norm_cell(r[d_idx[c]])) for c in d_cols) for r in duck_rows
    )
    if s_vals != d_vals:
        # find first differing row for diagnostics
        for a, b in zip(s_vals, d_vals):
            if a != b:
                problems.append(f"value mismatch, first diff:\n  spark={a}\n  duck ={b}")
                break
        else:
            problems.append("value mismatch (length differs)")
    return problems


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table over ``sf_dir``.

    Reference fixtures are single parquet files; Spark-written fixtures
    (the builders under ``tools/``) are directories of part files.
    """
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(spark, con, name: str, sf_dir: str) -> list[str]:
    """Problems with oracle-backed query ``name`` on ``sf_dir``; empty = match.

    ``con`` is a ``duck_views(sf_dir)`` connection.  The HUGEINT/DECIMAL
    gates run first; values are compared only when both sides pass them.
    """
    from lms_etl_pipeline_spark import plans

    sdf = plans.all_queries()[name](spark, sf_dir)
    rel = con.sql(plans.all_oracles()[name])
    problems = [
        f"oracle emits driver-unsafe HUGEINT/DECIMAL in column {c!r} "
        f"(CAST to BIGINT, or split into BIGINT limbs)"
        for c in hugeint_columns(rel)
    ] + [
        f"Spark plan emits driver-unsafe DECIMAL in column {c!r} "
        f"(cast to bigint/double, or split into BIGINT limbs)"
        for c in spark_decimal_columns(sdf)
    ]
    if problems:
        return problems
    duck_rows = rel.limit(MAX_COMPARE_ROWS + 1).fetchall()
    return compare(name, sdf, duck_rows, list(rel.columns))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from lms_etl_pipeline_spark import plans
    from lms_etl_pipeline_spark.session import get_spark

    spark = get_spark("oracle-check")
    oracles = plans.all_oracles()
    con = duck_views(sf_dir)

    n_pass = n_fail = n_rows_only = 0
    for name, fn in sorted(plans.all_queries().items()):
        if only and name not in only:
            continue
        try:
            if name not in oracles:
                cnt = fn(spark, sf_dir).count()
                print(f"  ~ {name}: rows-only ({cnt} rows)")
                n_rows_only += 1
                continue
            problems = check(spark, con, name, sf_dir)
        except Exception as exc:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(exc).__name__}: {exc}"]
        if problems:
            n_fail += 1
            print(f"  ✗ {name}")
            for p in problems:
                print(f"      {p}")
        else:
            n_pass += 1
            print(f"  ✓ {name}")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
