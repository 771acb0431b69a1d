"""Unit tests for text operators — including the empty-document case, which
must not raise ANSI DIVIDE_BY_ZERO."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx


def test_tokens_split_all_whitespace(spark):
    df = spark.createDataFrame([Row(t="hello\tworld\nfoo  bar")])
    out = df.select(tx.tokens("t").alias("toks")).collect()[0].toks
    assert out == ["hello", "world", "foo", "bar"]


def test_quality_features_empty_doc_is_null_not_crash(spark):
    df = spark.createDataFrame([Row(text=""), Row(text="   "), Row(text="a b a")])
    rows = tx.quality_features(df).orderBy(F.col("n_tokens")).collect()
    assert rows[0].n_tokens == 0 and rows[0].ttr is None  # no DIVIDE_BY_ZERO abort
    assert rows[1].n_tokens == 0 and rows[1].stop_ratio is None
    assert rows[2].n_tokens == 3 and abs(rows[2].ttr - 2 / 3) < 1e-12


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([Row(t="one two")])
    out = df.select(tx.shingles(tx.tokens("t"), n=3).alias("sh")).collect()[0].sh
    assert out == []


def test_shingles_trigrams(spark):
    df = spark.createDataFrame([Row(t="a b c d")])
    out = df.select(tx.shingles(tx.tokens("t"), n=3).alias("sh")).collect()[0].sh
    assert out == ["a b c", "b c d"]


def test_fingerprint_order_and_dup_insensitive(spark):
    df = spark.createDataFrame([Row(t="b a a b"), Row(t="a b"), Row(t="a c")])
    fps = df.select(tx.fingerprint("t").alias("fp")).collect()
    assert fps[0].fp == fps[1].fp
    assert fps[0].fp != fps[2].fp


def test_tf_idf_values(spark):
    df = spark.createDataFrame([Row(id=1, t="x y"), Row(id=2, t="x z")])
    rows = {
        (r.id, r.term): (r.tf, r.df)
        for r in tx.tf_idf(df, "id", "t").collect()
    }
    assert rows[(1, "x")] == (1, 2)  # 'x' appears in both docs
    assert rows[(1, "y")] == (1, 1)


def test_stopword_ratio(spark):
    df = spark.createDataFrame([Row(t="the cat"), Row(t="")])
    out = df.select(tx.stopword_ratio("t").alias("r")).collect()
    assert out[0].r == 0.5
    assert out[1].r is None


def test_winnowing_shared_run_yields_shared_fingerprint(spark):
    # docs sharing a >= w+k-1 = 6-token run must share >= 1 fingerprint
    a = "one two three four five six seven alpha beta gamma"
    b = "zzz qqq one two three four five six seven rrr"
    c = "totally disjoint vocabulary with nothing in common at all here"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "id BIGINT, t STRING")
    toked = df.select("id", tx.tokens("t").alias("_toks"))
    fps = {
        r.id: set(r.fps)
        for r in toked.select(
            "id", tx.winnowing_fingerprints(F.col("_toks"), k=3, w=4).alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2]       # shared run detected
    assert not (fps[1] & fps[3]) # disjoint docs don't collide


def test_winnowing_short_and_empty_docs(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b"), (3, "")], "id BIGINT, t STRING")
    toked = df.select("id", tx.tokens("t").alias("_toks"))
    out = {
        r.id: r.fps
        for r in toked.select(
            "id", tx.winnowing_fingerprints(F.col("_toks"), k=3, w=4).alias("fps")
        ).collect()
    }
    assert len(out[1]) == 1  # 2 kgram hashes < w -> min fallback
    assert out[2] == []      # < k tokens -> no kgrams
    assert out[3] == []
