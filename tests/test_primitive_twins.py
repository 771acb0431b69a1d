"""Cross-engine primitives: each Spark function and its DuckDB twin return
the same values on hand-built edge inputs, and each primitive is spelled
once in the engine, so the oracles cannot drift from the plans."""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import ml
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators import vectors as vec
from lms_etl_pipeline_spark.plans.behavior import AB_ARM_SQL, ab_arm
from lms_etl_pipeline_spark.plans.training_mix import _SENT_SEP

DOCS = [
    (0, ""),
    (1, "   "),
    (2, "a\tb\nc\r\nd"),
    (3, "x\u00a0y z"),  # NBSP is not a separator on either engine
    (4, "one"),
    (5, "one two"),
    (6, "one two three"),
    (7, "a a b a a b"),
    (8, "the cat sat. the cat sat. on the mat.  . end"),
    (9, "w1 w2 w3 w4 w5 w6 w7"),
]

VECS = [
    (0, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    (1, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero vector: NULL, not an abort
    (2, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
    (3, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
    (4, [-1.5, 2.25, 0.1], [2.0, -4.0, -1.0]),
]


@pytest.fixture(scope="module")
def engines(spark):
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", DOCS)
    con.execute("CREATE TABLE vecs (id BIGINT, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO vecs VALUES (?, ?, ?)", VECS)
    docs = spark.createDataFrame(DOCS, "doc_id BIGINT, text STRING")
    vecs = spark.createDataFrame(VECS, "id BIGINT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    yield docs, vecs, con
    con.close()


def _both(spark_df, key, spark_col, con, table, sql):
    got_spark = {r[0]: r[1] for r in spark_df.select(key, spark_col).collect()}
    got_duck = dict(con.execute(f"SELECT {key}, {sql} FROM {table}").fetchall())
    return got_spark, got_duck


def _doc_twin(engines, spark_col, sql):
    docs, _, con = engines
    got_spark, got_duck = _both(docs, "doc_id", spark_col, con, "docs", sql)
    assert got_spark == got_duck
    return got_spark


def test_hash60_twin(engines):
    got = _doc_twin(engines, tx.hash60(F.col("text")), tx.hash60_sql("text"))
    assert all(0 <= h < 1 << 60 for h in got.values())


@pytest.mark.parametrize("sep", [r"\s+", _SENT_SEP])
def test_tokens_twin(engines, sep):
    got = _doc_twin(engines, tx.tokens("text", sep), tx.tokens_sql(sep=sep))
    if sep == r"\s+":
        assert got[0] == got[1] == []
        assert got[2] == ["a", "b", "c", "d"]
        assert got[3] == ["x\u00a0y", "z"]
    else:
        assert got[8] == ["the cat sat", "the cat sat", "on the mat", " ", "end"]


@pytest.mark.parametrize("n", [2, 3, 5])
@pytest.mark.parametrize("as_set", [False, True], ids=["list", "set"])
def test_ngrams_twin(engines, n, as_set):
    grams = tx.shingles(tx.tokens("text"), n)
    grams_sql = tx.ngrams_sql(tx.tokens_sql(), n)
    if as_set:  # DuckDB's LIST_DISTINCT keeps no order: compare sorted
        grams = F.array_sort(F.array_distinct(grams))
        grams_sql = f"LIST_SORT(LIST_DISTINCT({grams_sql}))"
    got = _doc_twin(engines, grams, grams_sql)
    assert got[4] == [] and len(got[9]) == 8 - n


def test_fingerprint_twin(engines):
    got = _doc_twin(
        engines, tx.fingerprint_of(tx.tokens("text")), tx.fingerprint_sql(tx.tokens_sql())
    )
    assert got[0] == got[1]  # zero-token docs share MD5('') on both engines


def test_cosine_twin(engines):
    _, vecs, con = engines
    a, b = F.col("a"), F.col("b")
    # the plain form and the pre-normed one (norms taken below a join)
    for cos in (vec.cosine(a, b), vec.cosine(a, b, vec.norm(a), vec.norm(b))):
        got_spark, got_duck = _both(vecs, "id", cos, con, "vecs", vec.cosine_sql("a", "b", 3))
        assert got_spark == got_duck
        assert got_spark[1] is None and got_spark[2] is None and got_spark[3] == 0.0


TOPK_VECS = [
    (0, [1.0, 0.0, 0.0], 1),
    (1, [0.0, 0.0, 0.0], 1),  # zero-vector query: every cosine is NULL
    (2, [0.0, 0.5, 0.5], 2),  # alone in bucket 2
    (3, [1.0, 1.0, 0.0], 1),
    (4, [2.0, 2.0, 0.0], 1),  # exactly 3's cosine to every query: 3 ranks first
    (5, [0.0, 0.0, 0.0], 1),  # zero-vector neighbour: NULL ranks last
    (6, [-1.0, 0.5, 0.25], 1),
    (7, [0.125, -2.0, 3.0], 3),
]


@pytest.mark.parametrize("on, k", [(None, 10), (None, 2), ("bucket", 10), ("bucket", 2)])
def test_cosine_topk_twin(spark, on, k):
    """top_k(cosine_pairs(...)) and cosine_topk_sql return the same rows;
    k = 10 is more than any query's candidates."""
    con = duckdb.connect()
    con.execute("CREATE TABLE tv (vec_id BIGINT, embedding FLOAT[], bucket INT)")
    con.executemany("INSERT INTO tv VALUES (?, ?, ?)", TOPK_VECS)
    tv = spark.createDataFrame(TOPK_VECS, "vec_id BIGINT, embedding ARRAY<FLOAT>, bucket INT")
    got = vec.top_k(vec.cosine_pairs(tv.filter(F.col("vec_id") < 3), tv, on), k)
    cols = sorted(got.columns)
    got_spark = sorted((tuple(r[c] for c in cols) for r in got.collect()), key=repr)

    def side(s: str, where: str = "") -> str:  # Spark prefixes a non-key column
        return f"SELECT vec_id, embedding, bucket{'' if on else f' AS {s}_bucket'} FROM tv{where}"

    sql = vec.cosine_topk_sql(side("q", " WHERE vec_id < 3"), side("n"), k, 3, on)
    got_duck = sorted(con.execute(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall(), key=repr)
    con.close()
    assert got_spark == got_duck

    rows = [dict(zip(cols, r)) for r in got_spark]
    rank = {(r["q_id"], r["n_id"]): r["rk"] for r in rows}
    assert all(q != n for q, n in rank)
    n_cands = 5 if on else 7
    assert sorted(rk for (q, _), rk in rank.items() if q == 0) == list(range(1, min(k, n_cands) + 1))
    assert rank[(0, 3)] == 1 and rank[(0, 4)] == 2
    if k == 10:
        assert rank[(0, 5)] == n_cands  # the NULL cosine ranks last
        assert [n for (q, n), _ in sorted(rank.items(), key=lambda x: x[1]) if q == 1] == (
            [0, 3, 4, 5, 6] if on else [0, 2, 3, 4, 5, 6, 7]
        )
    if on:
        assert not any(q == 2 for q, _ in rank)  # the singleton bucket has no pairs


def test_sq_dist_twin(engines):
    _, vecs, con = engines
    sql = ml.sq_dist_sql("a", "b", 3)
    got_spark, got_duck = _both(vecs, "id", ml.sq_dist(F.col("a"), F.col("b")), con, "vecs", sql)
    assert got_spark == got_duck
    assert got_spark[2] == 0.0 and got_spark[3] == 2.0


# float elements: the update widens each to double before the decimal cast
KM_POINTS = [
    (0, [0.0, 0.0]),
    (1, [0.0, 0.0]),  # equal to 0: centroid 1 ties with 0, loses, empties
    (2, [-0.000002, 1.5]),
    (3, [-0.000003, 2.5]),  # x mean -2.5e-6: a negative half-way mean
    (4, [0.000002, 0.15]),
    (5, [0.000003, 0.3]),
    (6, [5.0, -5.0]),
]
KM_CENTROIDS = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 2.0]), (3, [0.0, 0.2]), (4, [5.0, -5.0])]


def test_kmeans_step_twins(spark):
    """kmeans_assign and kmeans_update against their SQL twins: the tie
    goes to the lower cid, the emptied cluster drops out, and half-way
    means round away from zero on both sides of it."""
    con = duckdb.connect()
    con.execute("CREATE TABLE kp (id BIGINT, vec FLOAT[])")
    con.executemany("INSERT INTO kp VALUES (?, ?)", KM_POINTS)
    con.execute("CREATE TABLE kc (cid BIGINT, cvec DOUBLE[])")
    con.executemany("INSERT INTO kc VALUES (?, ?)", KM_CENTROIDS)
    pts = spark.createDataFrame(KM_POINTS, "id BIGINT, vec ARRAY<FLOAT>")
    cents = spark.createDataFrame(KM_CENTROIDS, "cid BIGINT, cvec ARRAY<DOUBLE>")

    assign = ml.kmeans_assign(pts, cents)
    assign_sql = ml.kmeans_assign_sql("kp", "kc", "id", "vec", 2)
    got_spark = sorted(tuple(r) for r in assign.collect())
    assert got_spark == sorted(con.execute(assign_sql).fetchall())
    assert [r[1] for r in got_spark] == [0, 0, 2, 2, 3, 3, 4]

    update_sql = ml.kmeans_update_sql("kp", f"({assign_sql})", "id", "vec")
    got_spark = {r.cid: r.cvec for r in ml.kmeans_update(pts, assign).collect()}
    got_duck = dict(con.execute(update_sql).fetchall())
    con.close()
    assert got_spark == got_duck
    assert sorted(got_spark) == [0, 2, 3, 4]
    assert got_spark[2] == [-0.000003, 2.0]
    assert got_spark[3] == [0.000003, 0.225]


def test_pagerank_step_twins(spark):
    """pagerank_start and two pagerank_step calls against their SQL twins
    on a graph with a cycle, a source-only node and a sink."""
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("c", "e")]
    con = duckdb.connect()
    con.execute("CREATE TABLE pe (src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO pe VALUES (?, ?)", edges)
    g, pr = ml.pagerank_start(spark.createDataFrame(edges, "src STRING, dst STRING"))
    pr = ml.pagerank_step(g, ml.pagerank_step(g, pr))
    got_spark = {r.node: r.pr for r in pr.collect()}
    got_duck = dict(con.execute(f"""
        WITH edges AS (SELECT * FROM pe), {ml.pagerank_start_sql()},
        {ml.pagerank_step_sql("pr0", "pr1")}, {ml.pagerank_step_sql("pr1", "pr2")}
        SELECT node, pr FROM pr2""").fetchall())
    con.close()
    assert got_spark == got_duck
    assert set(got_spark) == set("abcde")
    assert got_spark["d"] == round(0.15 / 5, 12)  # no in-edges: the teleport floor


def test_ab_arm_twin(spark):
    users = [(u,) for u in range(-3, 200)]
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT)")
    con.executemany("INSERT INTO events VALUES (?)", users)
    df = spark.createDataFrame(users, "user_id BIGINT")
    got_spark, got_duck = _both(df, "user_id", ab_arm(), con, "events", AB_ARM_SQL)
    con.close()
    assert got_spark == got_duck
    assert set(got_spark.values()) == {0, 1}


# Each primitive's spelling, and how often it may occur in the engine at
# most: once for each Spark function and SQL twin above, twice for the two
# sides of the A/B arm, and six list slices: the n-gram twin plus five that
# are not n-grams (chunks, a token prefix, the first three tokens, two
# position-keyed grams).  The per-row norm projection is spelled once in
# ``cosine_pairs`` and five times in three all-pairs joins with no query
# side: ``dedup_embedding_cosine``'s a < b pairs and the two SemDeDup
# semi-joins.  The ranked-cosine SQL window is ``cosine_topk_sql``'s plus
# the two of ``matryoshka_truncation_eval``, which ranks every candidate
# twice, at full and at truncated dimension.  Driver rows become a frame
# only in ``session.local_frame``.  The Lloyd mean update and the PageRank
# iteration live once in ``operators/ml.py``, and the session window once
# in ``streaming.sessionized_counts``.
SPELLINGS = {
    r"F\.conv\(\s*F\.substring\(": 1,
    r"SUBSTRING\(\s*MD5\(": 1,
    r"REGEXP_SPLIT_TO_ARRAY\(": 1,
    r"F\.filter\(F\.split\(": 1,
    r"/\s*\(SQRT\(": 1,
    r"MD5\(COALESCE\(ARRAY_TO_STRING\(LIST_SORT\(LIST_DISTINCT\(": 1,
    r"ab1\|": 2,
    r"ARRAY_TO_STRING\(LIST_SLICE\(": 6,
    r"try_divide\(\s*(vec\.)?dot\(": 1,
    r'norm\(F\.col\("embedding"\)\)\.alias\(': 6,
    r"PARTITION BY q[\w.]*\s+ORDER BY\s+(cos\w*|\{[^}]*cos[^}]*\})\s+DESC": 3,
    r"\.createDataFrame\(": 1,
    r'F\.col\("pr"\) / F\.col\("outdeg"\)': 1,
    r'\.cast\("decimal\(27,8\)"\)': 1,
    r"F\.session_window\(": 1,
}


@pytest.mark.parametrize("pattern", list(SPELLINGS))
def test_primitive_is_spelled_once(pattern):
    root = Path(__file__).resolve().parents[1] / "lms_etl_pipeline_spark"
    hits = [
        f"{p.relative_to(root)}:{s[: m.start()].count(chr(10)) + 1}"
        for p in sorted(root.rglob("*.py"))
        for s in [p.read_text()]
        for m in re.finditer(pattern, s)
    ]
    assert len(hits) <= SPELLINGS[pattern], hits
