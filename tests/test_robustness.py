"""Degenerate-input robustness: empty frames, all-NULL columns, single rows.

An ANSI DIVIDE_BY_ZERO on an empty document is the class of bug that is invisible in happy-path fixtures and
guaranteed at 100 TB.  Every operator family gets a degenerate pass here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lms_etl_pipeline_spark import etl
from lms_etl_pipeline_spark.operators import dedup as dd
from lms_etl_pipeline_spark.operators import multimodal as mm
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators import vectors as vec
from lms_etl_pipeline_spark.operators.skew import salted_agg, salted_join
from lms_etl_pipeline_spark.operators.temporal import asof_join


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id BIGINT, text STRING")


def test_text_operators_on_empty_frame(spark, empty_docs):
    assert tx.quality_features(empty_docs).count() == 0
    assert tx.tf_idf(empty_docs, "doc_id", "text").count() == 0


def test_text_operators_on_null_text(spark):
    df = spark.createDataFrame([(1, None)], "doc_id BIGINT, text STRING")
    row = tx.quality_features(df).collect()[0]
    assert row.n_tokens is None or row.n_tokens <= 0  # NULL text: no crash
    assert df.select(tx.fingerprint("text").alias("f")).count() == 1


def test_minhash_on_empty_and_null(spark, empty_docs):
    assert dd.with_minhash(empty_docs, "doc_id", "text").count() == 0
    df = spark.createDataFrame([(1, None), (2, "a b c d e")], "doc_id BIGINT, text STRING")
    ids = [r.doc_id for r in dd.with_minhash(df, "doc_id", "text").collect()]
    assert ids == [2]  # NULL text dropped, not crashed


def test_near_dup_on_empty(spark, empty_docs):
    assert dd.near_dup_pairs(empty_docs, "doc_id", "text").count() == 0


def test_winnowing_null_text(spark):
    df = spark.createDataFrame([(1, None)], "id BIGINT, t STRING")
    toked = df.select("id", tx.tokens("t").alias("_toks"))
    out = toked.select(tx.winnowing_fingerprints(F.col("_toks")).alias("fps")).collect()
    assert out[0].fps is None or out[0].fps == []


def test_vector_ops_null_and_mismatched(spark):
    df = spark.createDataFrame(
        [(1, None, [1.0, 2.0]), (2, [1.0, 2.0], [3.0, 4.0])],
        "id BIGINT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
    )
    rows = {r.id: r.c for r in df.select("id", vec.cosine(F.col("a"), F.col("b")).alias("c")).collect()}
    assert rows[1] is None  # NULL vector -> NULL, no crash
    assert rows[2] is not None


def test_align_to_schema_empty_frame(spark):
    df = spark.createDataFrame([], "a STRING")
    target = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    out = etl.align_to_schema(df, target)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["a", "b"]


@pytest.mark.slow  # >14 s: gated from the default run
def test_multimodal_empty_frame(spark):
    df = spark.createDataFrame([], "doc_id BIGINT, text STRING")
    assert mm.decode_image_features(mm.with_payload(df)).count() == 0
    assert mm.sample_frames(mm.with_payload(df)).count() == 0


def test_salted_join_empty_sides(spark):
    empty = spark.createDataFrame([], "k INT, v INT")
    dim = spark.createDataFrame([(1, "x")], "k INT, name STRING")
    assert salted_join(empty, dim, ["k"]).count() == 0
    assert salted_agg(empty, ["k"], {"n": (F.count("*"), "sum")}).count() == 0


def test_asof_join_no_right_rows(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "user_id INT, ts_s STRING"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    right = spark.createDataFrame([], "user_id INT, ts TIMESTAMP, val INT")
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts").collect()
    assert len(out) == 1 and out[0].val is None  # left preserved, NULL payload


def test_asof_join_overlapping_payload_name(spark):
    """A right payload column that shares its name with a left column must
    carry real matched values (not silently NULL) and come back suffixed
    ``_right`` — the pandas merge_asof contract."""
    left = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", "left-status")], "user_id INT, ts_s STRING, status STRING"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "status")
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "right-status")], "user_id INT, ts_s STRING, status STRING"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "status")
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts")
    assert sorted(out.columns) == ["asof_ts", "status", "status_right", "ts", "user_id"]
    row = out.collect()[0]
    assert row.status == "left-status" and row.status_right == "right-status"


def test_single_row_quality(spark):
    df = spark.createDataFrame([(1, "word")], "doc_id BIGINT, text STRING")
    r = tx.quality_features(df).collect()[0]
    assert r.n_tokens == 1 and r.ttr == 1.0

def test_cogroup_asof_handles_user_with_no_clicks(spark):
    """cogroup_pandas_asof's merge fn gets an EMPTY right frame for a user
    with purchases but no clicks — must yield NULL deltas, not crash."""
    import pandas as pd

    purchases = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (2, 99, "2024-01-01 11:00:00")],
        "event_id LONG, user_id LONG, ts_s STRING",
    ).selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    clicks = spark.createDataFrame(
        [(10, "2024-01-01 09:00:00")], "user_id LONG, ts_s STRING"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")

    def asof_merge(p: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        if len(p) == 0:
            return pd.DataFrame(
                {"event_id": pd.Series(dtype="int64"),
                 "user_id": pd.Series(dtype="int64"),
                 "micros_since_click": pd.Series(dtype="Int64")}
            )
        ps = p.sort_values("ts")
        cs = c.sort_values("ts").assign(click_ts=lambda d: d["ts"])
        merged = pd.merge_asof(ps, cs[["ts", "click_ts"]], on="ts", direction="backward")
        micros = (merged["ts"] - merged["click_ts"]) // pd.Timedelta(microseconds=1)
        return pd.DataFrame(
            {"event_id": merged["event_id"], "user_id": merged["user_id"],
             "micros_since_click": micros.astype("Int64")}
        )

    out = (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(asof_merge, "event_id BIGINT, user_id BIGINT, micros_since_click BIGINT")
        .collect()
    )
    got = sorted((r.user_id, r.micros_since_click) for r in out)
    assert got == [(10, 3_600_000_000), (99, None)]


def test_text_pipeline_handles_megabyte_document(spark):
    """A pathological 1 MB single document flows through tokenize /
    shingle / minhash / quality without error and with correct counts —
    no per-row blowup (higher-order exprs stay linear in doc length)."""
    from pyspark.sql import Row

    from lms_etl_pipeline_spark.operators import dedup as dd
    from lms_etl_pipeline_spark.operators import text as tx

    n_tokens = 200_000  # ~1.2 MB of text
    big = " ".join(f"w{i % 5000}" for i in range(n_tokens))
    df = spark.createDataFrame([Row(doc_id=1, text=big), Row(doc_id=2, text="tiny doc here")])

    stats = tx.quality_features(df, "text").select("doc_id", "n_tokens", "n_distinct").collect()
    by_id = {r.doc_id: r for r in stats}
    assert by_id[1].n_tokens == n_tokens and by_id[1].n_distinct == 5000
    assert by_id[2].n_tokens == 3

    sigs = dd.with_minhash(df, "doc_id", "text").collect()
    assert {r.doc_id for r in sigs} == {1, 2}
