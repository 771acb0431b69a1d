"""operators/rank.py: scalable exact global rank / NTILE / running sum.

Each operator is differentially tested against the semantically-identical
single-partition global window on the same data — the operators exist
precisely so production plans can avoid that window, so equality with it
IS the correctness contract.  Edge cases pinned: NTILE remainder
handling, n < k, empty coarse buckets (gaps in the bucket domain), and
a single-bucket degenerate case (everything collapses to one bucket and
the operator must still be exact).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators.rank import (
    attach_global_rank,
    global_ntile,
    global_running_sum,
)


@pytest.fixture(scope="module")
def df(spark):
    # Deterministic pseudo-random order key with duplicates in the coarse
    # bucket and gaps in the bucket domain; id is the unique tiebreak.
    rows = [(i, (i * 2654435761) % 997, (i * 7) % 13) for i in range(501)]
    return spark.createDataFrame(rows, "id long, key long, val long")


def ORDER():
    return [F.col("key").asc(), F.col("id").asc()]


def COARSE():
    # High bits of the key: pure + monotone in `key`, leaves buckets empty.
    return (F.col("key") / 64).cast("long")


def test_global_rank_matches_single_partition_window(df):
    got = attach_global_rank(df, ORDER(), COARSE(), rank_col="r").select("id", "r")
    want = df.select(
        "id", F.row_number().over(Window.orderBy(*ORDER())).alias("r")
    )
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


@pytest.mark.parametrize("k", [3, 16, 500, 501, 502, 1000])
def test_global_ntile_matches_builtin(df, k):
    # 501 rows: k=3 -> remainder 0; k=16 -> remainder 5; k=500/502 ->
    # n%k big; k >= n -> every bucket holds <= 1 row (base = 0 path).
    got = global_ntile(df, k, ORDER(), COARSE(), bucket_col="b").select("id", "b")
    want = df.select(
        "id", F.ntile(k).over(Window.orderBy(*ORDER())).cast("long").alias("b")
    )
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_global_running_sum_matches_single_partition_window(df):
    got = global_running_sum(df, "val", ORDER(), COARSE(), out_col="s").select(
        "id", "s"
    )
    w = Window.orderBy(*ORDER()).rowsBetween(Window.unboundedPreceding, 0)
    want = df.select("id", F.sum("val").over(w).alias("s"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_degenerate_single_bucket_still_exact(df):
    got = attach_global_rank(df, ORDER(), F.lit(0), rank_col="r").select("id", "r")
    want = df.select("id", F.row_number().over(Window.orderBy(*ORDER())).alias("r"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_no_corpus_sized_unpartitioned_window_in_plan(df):
    """The whole point: the executed plan's only unpartitioned window runs
    over the per-bucket aggregate (bounded by the bucket domain), never
    over the input rows."""
    out = attach_global_rank(df, ORDER(), COARSE(), rank_col="r")
    out.collect()
    from tools.audit_plans import _global_window_inputs

    plan = out._jdf.queryExecution().executedPlan()
    inputs = _global_window_inputs(plan)
    n_buckets = 997 // 64 + 1
    assert inputs, "expected the tiny per-bucket prefix window"
    assert max(inputs) <= n_buckets


def test_sharded_curriculum_matches_global_per_lang(spark):
    """Pin the global-anchor <-> sharded-twin relationship: the sharded
    query's rows for one lang equal the GLOBAL window applied to just
    that lang's slice (partitionBy == per-group global ordering)."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    sharded = em.queries()["curriculum_phases_sharded"](spark, SF_SMOKE).cache()
    langs = [r[0] for r in sharded.select("lang").distinct().collect()]
    assert len(langs) >= 2
    for lang in langs[:3]:
        got = sharded.filter(F.col("lang") == lang).select(
            "doc_id", "difficulty", "phase"
        )
        slice_ = sharded.filter(F.col("lang") == lang).select(
            "doc_id", "difficulty"
        )
        from lms_etl_pipeline_spark.plans.training_mix import _PHASES

        w = Window.orderBy("difficulty", "doc_id")
        want = slice_.select(
            "doc_id",
            "difficulty",
            F.ntile(_PHASES).over(w).cast("long").alias("phase"),
        )
        assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
    sharded.unpersist()


def test_sharded_budget_matches_global_per_lang(spark):
    """Same pin for the running-sum pair: per-lang cumulative totals in
    the sharded query equal the global running sum over that lang's
    slice (same hash order, same budget)."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE
    from lms_etl_pipeline_spark.plans.corpus_ml_eval import _BUDGET_TOKENS_PER_LANG
    from lms_etl_pipeline_spark.operators import text as tx
    from lms_etl_pipeline_spark.sources.tables import load_table

    sharded = em.queries()["token_budget_selection_sharded"](spark, SF_SMOKE).cache()
    d = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        "lang",
        F.size(tx.tokens("text")).alias("n_toks"),
        tx.hash60(F.col("doc_id").cast("string")).alias("hk"),
    )
    langs = [r[0] for r in sharded.select("lang").distinct().collect()]
    assert len(langs) >= 2
    for lang in langs[:3]:
        got = sharded.filter(F.col("lang") == lang).select(
            "doc_id", "n_toks", "cum_toks"
        )
        w = Window.orderBy("hk", "doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        want = (
            d.filter(F.col("lang") == lang)
            .withColumn("cum_toks", F.sum("n_toks").over(w))
            .filter(F.col("cum_toks") <= _BUDGET_TOKENS_PER_LANG)
            .select("doc_id", "n_toks", "cum_toks")
        )
        assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
    sharded.unpersist()


def test_uniform_key_buckets_rank_matches_window(spark):
    """Data-dependent (min,max) width_bucket coarse key: exact global
    rank for an arbitrary unbounded key domain, incl. negatives and
    NULLs (bucket -1, NULLS FIRST ascending like Spark's sort)."""
    from lms_etl_pipeline_spark.operators.rank import with_uniform_key_buckets

    rows = [(i, None if i % 97 == 0 else ((i * 48271) % 2003) - 1000) for i in range(800)]
    d = spark.createDataFrame(rows, "id long, key long")
    tagged = with_uniform_key_buckets(d, "key", n_buckets=64)
    order = [F.col("key").asc(), F.col("id").asc()]
    got = attach_global_rank(tagged, order, F.col("_gbk"), rank_col="r").select(
        "id", "r"
    )
    want = d.select("id", F.row_number().over(Window.orderBy(*order)).alias("r"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_uniform_key_buckets_constant_key(spark):
    from lms_etl_pipeline_spark.operators.rank import with_uniform_key_buckets

    d = spark.range(50).select("id", F.lit(7).alias("key"))
    tagged = with_uniform_key_buckets(d, "key", n_buckets=8)
    order = [F.col("key").asc(), F.col("id").asc()]
    got = attach_global_rank(tagged, order, F.col("_gbk"), rank_col="r").select(
        "id", "r"
    )
    want = d.select("id", F.row_number().over(Window.orderBy(*order)).alias("r"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


@pytest.mark.parametrize("agg,inclusive", [
    ("sum", True), ("sum", False), ("max", True), ("max", False),
    ("min", True), ("min", False),
])
def test_global_running_agg_matches_window(df, agg, inclusive):
    from lms_etl_pipeline_spark.operators.rank import global_running_agg

    got = global_running_agg(
        df, "val", ORDER(), COARSE(), out_col="o", agg=agg, inclusive=inclusive
    ).select("id", "o")
    end = 0 if inclusive else -1
    w = Window.orderBy(*ORDER()).rowsBetween(Window.unboundedPreceding, end)
    fn = {"sum": F.sum, "max": F.max, "min": F.min}[agg]
    want = df.select("id", fn("val").over(w).alias("o"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_uniform_key_buckets_nonfinite_keys(spark):
    """NaN / ±Inf / NULL keys must keep the coarse bucket monotone in
    Spark's ascending sort order (NULL < -Inf < finite < +Inf < NaN);
    naive (min, max) stats would absorb an infinity and NULL-bucket the
    whole finite midrange."""
    from lms_etl_pipeline_spark.operators.rank import with_uniform_key_buckets

    nan, inf = float("nan"), float("inf")
    rows = []
    for i in range(300):
        r = i % 6
        key = [None, -inf, float((i * 48271) % 997) - 500.0,
               float(i % 37), inf, nan][r]
        rows.append((i, key))
    d = spark.createDataFrame(rows, "id long, key double")
    tagged = with_uniform_key_buckets(d, "key", n_buckets=16)
    order = [F.col("key").asc(), F.col("id").asc()]
    got = attach_global_rank(tagged, order, F.col("_gbk"), rank_col="r").select(
        "id", "r"
    )
    want = d.select("id", F.row_number().over(Window.orderBy(*order)).alias("r"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_uniform_key_buckets_all_nonfinite(spark):
    from lms_etl_pipeline_spark.operators.rank import with_uniform_key_buckets

    nan, inf = float("nan"), float("inf")
    d = spark.createDataFrame(
        [(0, nan), (1, inf), (2, -inf), (3, None), (4, nan), (5, inf)],
        "id long, key double",
    )
    tagged = with_uniform_key_buckets(d, "key", n_buckets=8)
    order = [F.col("key").asc(), F.col("id").asc()]
    got = attach_global_rank(tagged, order, F.col("_gbk"), rank_col="r").select(
        "id", "r"
    )
    want = d.select("id", F.row_number().over(Window.orderBy(*order)).alias("r"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


@pytest.mark.parametrize("agg,inclusive", [
    ("sum", True), ("sum", False), ("max", False), ("min", True),
])
def test_global_running_agg_null_values(spark, agg, inclusive):
    """NULL values in the aggregated column: SQL window aggregates skip
    NULLs and yield NULL only over an empty-or-all-NULL frame; the
    decomposition must match row-for-row, including a leading all-NULL
    bucket (whose per-bucket total is NULL and must not poison the
    prefix combine)."""
    from lms_etl_pipeline_spark.operators.rank import global_running_agg

    # val is NULL for every key below 200 — the first THREE coarse
    # buckets (key/64) are entirely NULL by construction — plus a
    # scattered 1-in-5 elsewhere.
    rows = [
        (i, (i * 2654435761) % 997,
         None if ((i * 2654435761) % 997 < 200 or i % 5 == 0)
         else (i * 7) % 13 - 6)
        for i in range(301)
    ]
    d = spark.createDataFrame(rows, "id long, key long, val long")
    order = [F.col("key").asc(), F.col("id").asc()]
    coarse = (F.col("key") / 64).cast("long")
    got = global_running_agg(
        d, "val", order, coarse, out_col="o", agg=agg, inclusive=inclusive
    ).select("id", "o")
    end = 0 if inclusive else -1
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, end)
    fn = {"sum": F.sum, "max": F.max, "min": F.min}[agg]
    want = d.select("id", fn("val").over(w).alias("o"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_uniform_key_buckets_nulls_last_descending(spark):
    """ADVICE r7: the negated-key idiom (-score for a descending global
    order) needs NULLS LAST — Spark's desc default — not the helper's
    ascending-default NULLS FIRST.  With nulls="last" a NULLABLE negated
    key must reproduce row_number() OVER (ORDER BY score DESC NULLS LAST)
    exactly."""
    from lms_etl_pipeline_spark.operators.rank import with_uniform_key_buckets

    rows = [
        (i, None if i % 11 == 0 else float(((i * 48271) % 509) - 250))
        for i in range(400)
    ]
    d = spark.createDataFrame(rows, "id long, score double").withColumn(
        "_neg", -F.col("score")
    )
    tagged = with_uniform_key_buckets(d, "_neg", n_buckets=32, nulls="last")
    order = [F.col("score").desc(), F.col("id").asc()]  # desc => NULLS LAST
    got = attach_global_rank(tagged, order, F.col("_gbk"), rank_col="r").select(
        "id", "r"
    )
    want = d.select("id", F.row_number().over(Window.orderBy(*order)).alias("r"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
    # and the default (nulls="first") on the same data is provably WRONG
    # for this order — the latent bug the option exists to prevent
    tagged_bad = with_uniform_key_buckets(d, "_neg", n_buckets=32)
    got_bad = attach_global_rank(
        tagged_bad, order, F.col("_gbk"), rank_col="r"
    ).select("id", "r")
    assert got_bad.subtract(want).count() > 0


def test_uniform_key_buckets_nulls_last_nan_descending(spark):
    """ADVICE r8: negation does NOT flip NaN (-NaN is NaN, still Spark's
    largest double), so under ORDER BY score DESC a NaN score ranks FIRST
    while its negated key sorts last.  nulls="last" must therefore map NaN
    to a LEADING bucket (-3) — with NaN keys present, the bucketed rank
    must still reproduce row_number() OVER (ORDER BY score DESC NULLS
    LAST) exactly, including NULLs and infinities in the same frame."""
    from lms_etl_pipeline_spark.operators.rank import with_uniform_key_buckets

    nan, inf = float("nan"), float("inf")
    rows = [
        (
            i,
            None
            if i % 11 == 0
            else nan
            if i % 13 == 0
            else inf
            if i == 17
            else -inf
            if i == 23
            else float(((i * 48271) % 509) - 250),
        )
        for i in range(400)
    ]
    d = spark.createDataFrame(rows, "id long, score double").withColumn(
        "_neg", -F.col("score")
    )
    tagged = with_uniform_key_buckets(d, "_neg", n_buckets=32, nulls="last")
    order = [F.col("score").desc(), F.col("id").asc()]  # desc => NaN first, NULLS LAST
    got = attach_global_rank(tagged, order, F.col("_gbk"), rank_col="r").select(
        "id", "r"
    )
    want = d.select("id", F.row_number().over(Window.orderBy(*order)).alias("r"))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_uniform_key_buckets_rejects_bad_nulls(spark):
    from lms_etl_pipeline_spark.operators.rank import with_uniform_key_buckets

    d = spark.range(3).select("id", F.lit(1.0).alias("k"))
    with pytest.raises(ValueError):
        with_uniform_key_buckets(d, "k", nulls="either")
