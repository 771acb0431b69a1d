"""Unit tests for dedup (minhash/LSH/simhash) and vector operators."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import dedup as dd
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators import vectors as vec

DOC = "the quick brown fox jumps over the lazy dog again and again today"


def test_minhash_identical_docs_identical_signatures(spark):
    df = spark.createDataFrame([Row(id=1, t=DOC), Row(id=2, t=DOC), Row(id=3, t="x y z w v")])
    sigs = {r.id: tuple(r[f"h{i}"] for i in range(8)) for r in dd.with_minhash(df, "id", "t").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_drops_short_docs(spark):
    df = spark.createDataFrame([Row(id=1, t="one two"), Row(id=2, t=DOC)])
    ids = [r.id for r in dd.with_minhash(df, "id", "t").collect()]
    assert ids == [2]


def test_near_dup_pairs_finds_planted_near_duplicate(spark):
    # One appended token: shingle sets share 11/12 => Jaccard ~0.92, which
    # the 4x2 LSH banding detects (verified deterministic: md5 family).
    near = DOC + " tonight"
    far = "completely different words about completely other things entirely now"
    df = spark.createDataFrame([Row(id=1, t=DOC), Row(id=2, t=near), Row(id=3, t=far)])
    pairs = {(r.a, r.b): r.jaccard for r in dd.near_dup_pairs(df, "id", "t", threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    assert 0.3 <= pairs[(1, 2)] < 1.0


def test_simhash_equal_docs_equal_bits(spark):
    df = spark.createDataFrame([Row(id=1, t=DOC), Row(id=2, t=DOC)])
    out = [r.s for r in df.select(dd.simhash64("t").alias("s")).collect()]
    assert out[0] == out[1]
    assert len(out[0]) == 64 and set(out[0]) <= {"0", "1"}


def test_dot_norm_cosine(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 2.0], b=[2.0, 0.0, 0.0])])
    r = df.select(
        vec.dot(F.col("a"), F.col("b")).alias("d"),
        vec.norm(F.col("a")).alias("na"),
        vec.cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert r.d == 2.0
    assert r.na == 3.0
    assert abs(r.c - 2.0 / (3.0 * 2.0)) < 1e-15


def test_cosine_zero_vector_is_null(spark):
    df = spark.createDataFrame([Row(a=[0.0, 0.0], b=[1.0, 1.0])])
    r = df.select(vec.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]
    assert r.c is None  # try_divide, never a DIVIDE_BY_ZERO abort


def test_hyperplane_bucket_deterministic_and_bounded(spark):
    planes = [[1.0, 0.0], [0.0, 1.0], [1.0, -1.0]]
    df = spark.createDataFrame([Row(v=[0.5, -0.5]), Row(v=[0.5, -0.5]), Row(v=[-1.0, 2.0])])
    out = [r.b for r in df.select(vec.hyperplane_bucket(F.col("v"), planes).alias("b")).collect()]
    assert out[0] == out[1]
    assert all(0 <= b < 8 for b in out)
    # sign math: v=[.5,-.5]: <v,h0>=.5>=0 ->1, <v,h1>=-.5 ->0, <v,h2>=1.0 ->4
    assert out[0] == 5


def test_norm_matches_math(spark):
    df = spark.createDataFrame([Row(a=[3.0, 4.0])])
    assert df.select(vec.norm(F.col("a")).alias("n")).collect()[0].n == 5.0


def test_dot_sql_fragment_matches_spark(spark):
    import duckdb

    a, b = [0.1, 0.2, 0.3], [0.4, 0.5, 0.6]
    duck = duckdb.sql(
        f"SELECT {vec.dot_sql('a', 'b', 3)} AS d FROM (SELECT {a} AS a, {b} AS b)"
    ).fetchall()[0][0]
    df = spark.createDataFrame([Row(a=a, b=b)])
    spark_v = df.select(vec.dot(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    assert math.isclose(duck, spark_v, rel_tol=0.0, abs_tol=0.0)  # bit-identical


def _brute_force_jaccard_pairs(rows, n=3, threshold=0.5):
    """Reference all-pairs n-gram Jaccard (test-only, O(N^2))."""
    sets = {}
    for rid, text in rows:
        toks = [t for t in text.split() if t]
        sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        if sh:
            sets[rid] = sh
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= threshold:
                out[(a, b)] = jac
    return out


def test_jaccard_pairs_prefix_matches_brute_force(spark):
    # Mix of exact dup, near dup, disjoint, and short (< n tokens) docs:
    # the prefix filter must lose NOTHING vs the quadratic reference.
    near = DOC + " tonight"
    rows = [
        (1, DOC),
        (2, DOC),  # exact duplicate
        (3, near),  # near duplicate
        (4, "completely different words about completely other things entirely"),
        (5, "tiny doc"),  # < 3 tokens -> no shingles -> excluded
        (6, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    expected = _brute_force_jaccard_pairs(rows, n=3, threshold=0.4)
    df = spark.createDataFrame([Row(id=r, t=t) for r, t in rows])
    got = {
        (r.a, r.b): r.jaccard
        for r in dd.jaccard_pairs_prefix(df, "id", "t", n=3, threshold=0.4).collect()
    }
    assert set(got) == set(expected)
    for pair, jac in expected.items():
        assert math.isclose(got[pair], jac, rel_tol=1e-12)
    assert got[(1, 2)] == 1.0


def test_jaccard_pairs_prefix_threshold_one_keeps_only_exact(spark):
    df = spark.createDataFrame(
        [Row(id=1, t=DOC), Row(id=2, t=DOC), Row(id=3, t=DOC + " extra")]
    )
    got = {(r.a, r.b) for r in dd.jaccard_pairs_prefix(df, "id", "t", threshold=1.0).collect()}
    assert got == {(1, 2)}


def test_jaccard_pairs_prefix_df_order_same_results(spark):
    # Both total orders must be lossless: identical pairs + values.
    near = DOC + " tonight"
    rows = [(1, DOC), (2, near), (3, "other words entirely different here today"), (4, DOC)]
    df = spark.createDataFrame([Row(id=r, t=t) for r, t in rows])
    lex = {
        (r.a, r.b): r.jaccard
        for r in dd.jaccard_pairs_prefix(df, "id", "t", threshold=0.4, order="lex").collect()
    }
    byfreq = {
        (r.a, r.b): r.jaccard
        for r in dd.jaccard_pairs_prefix(df, "id", "t", threshold=0.4, order="df").collect()
    }
    assert lex == byfreq and (1, 4) in lex


def _twin_corpus(spark):
    """One near-duplicate pair (1, 2), one exact duplicate (3, 4), one doc
    too short to shingle — as a Spark frame and a DuckDB ``documents``."""
    import duckdb

    rows = [
        (1, DOC),
        (2, DOC + " tonight"),
        (3, "completely different words about completely other things entirely now"),
        (4, "completely different words about completely other things entirely now"),
        (5, "tiny doc"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING"), con


def test_lsh_sql_twin_matches_near_dup_pairs(spark):
    df, con = _twin_corpus(spark)
    sh = f"LIST_DISTINCT({tx.ngrams_sql(tx.tokens_sql(), 3)})"
    sql = f"""
    WITH sh_t AS (SELECT doc_id, {sh} AS sh FROM documents),
    {dd.minhash_sql("sh_t")},
    {dd.lsh_candidates_sql()}
    {dd.jaccard_verified_sql("cands", "sh_t", score=True)}
    """
    duck = {(a, b): j for a, b, j in con.execute(sql).fetchall()}
    spark_pairs = {
        (r.a, r.b): r.jaccard for r in dd.near_dup_pairs(df, "doc_id", "text").collect()
    }
    assert duck == spark_pairs
    assert duck == {(1, 2): 11 / 12, (3, 4): 1.0}


def test_prefix_sql_twin_matches_jaccard_pairs_prefix(spark):
    df, con = _twin_corpus(spark)
    sh = f"LIST_DISTINCT({tx.ngrams_sql(tx.tokens_sql(), 3)})"
    sql = f"""
    WITH sh_t AS (SELECT doc_id, LIST_SORT({sh}) AS sh FROM documents),
    {dd.prefix_candidates_sql("sh_t")}
    {dd.jaccard_verified_sql("cands", "nz", score=True)}
    """
    duck = {(a, b): j for a, b, j in con.execute(sql).fetchall()}
    spark_pairs = {
        (r.a, r.b): r.jaccard
        for r in dd.jaccard_pairs_prefix(df, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert duck == spark_pairs
    assert duck == {(1, 2): 11 / 12, (3, 4): 1.0}


def test_knn_cosine_ivf_pairs_are_unique(spark):
    """Each corpus row sits in one cell and a query probes two distinct
    cells, so no (query, neighbour) pair can join twice."""
    from lms_etl_pipeline_spark.plans.llm_similarity import knn_cosine_ivf
    from tests.conftest import SF_SMOKE

    rows = knn_cosine_ivf(spark, SF_SMOKE).select("q_id", "n_id").collect()
    assert rows
    assert len({(r.q_id, r.n_id) for r in rows}) == len(rows)
