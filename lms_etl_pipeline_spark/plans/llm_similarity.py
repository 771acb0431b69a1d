"""Near-dup graph composites + embedding similarity search + the Python
compute surface — the second half of the LLM-data plans, split from
``plans/llm.py`` along query boundaries (repo convention: plan modules
stay <= ~1,100 LoC).

Families here: winnowing fingerprints, near-dup transitive clustering,
the end-to-end corpus curation pipeline, SimHash, exact/LSH/IVF
kNN over embeddings, embedding statistics and centroids, and the UDTF /
pandas-UDAF / applyInPandas surface.  Tokenize/shingle/minhash SQL
fragments and the quality/dedup primitives stay in ``plans/llm`` and are
imported from there; scope and determinism conventions are that module's
docstring.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import dedup as dd
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators import vectors as vec
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.llm import (
    EMB_DIM,
    _BASE_HASHES,
    _SHINGLES,
    _TOKS,
    _minhash_slots_sql,
    near_dup_pairs_lsh,
)
from lms_etl_pipeline_spark.session import (
    default_parallelism,
    materialize,
    spread_for_cpu,
)
from lms_etl_pipeline_spark.sources.tables import load_table

@query(
    "dedup_winnowing",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             LIST_TRANSFORM(
               CASE WHEN LEN(toks) >= 3
                    THEN LIST_TRANSFORM(RANGE(1, LEN(toks) - 1),
                         i -> ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 2), ' '))
                    ELSE [] END,
               gr -> TRY_CAST(CONCAT('0x', SUBSTRING(MD5(gr), 1, 15)) AS BIGINT)) AS hs
      FROM t
    ),
    fp AS (
      SELECT doc_id,
             CASE WHEN LEN(hs) >= 4 THEN
                    LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(hs) - 2),
                                  i -> LIST_MIN(LIST_SLICE(hs, i, i + 3))))
                  WHEN LEN(hs) > 0 THEN [LIST_MIN(hs)]
                  ELSE [] END AS fps
      FROM g
    )
    SELECT doc_id, UNNEST(fps) AS fingerprint FROM fp
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash window minima) fingerprints, exploded to the
    (doc_id, fingerprint) long form — join two docs on ``fingerprint`` and
    any shared token run of >= 6 tokens surfaces as a candidate pair.
    Tokens materialize as a column before the array math (perf: see
    operators.dedup docstring)."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tx.tokens("text").alias("_toks"))
    part = spread_for_cpu(toked, "doc_id")
    hashed = part.select("doc_id", tx.kgram_hashes(F.col("_toks"), k=3).alias("_hs"))
    return hashed.select(
        "doc_id",
        F.explode(tx.winnow_hashes(F.col("_hs"), w=4)).alias("fingerprint"),
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh_t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    hs_t AS (SELECT doc_id, sh, {_BASE_HASHES} AS hs FROM sh_t WHERE LEN(sh) > 0),
    sigs AS (
      SELECT doc_id,
             {_minhash_slots_sql(8)}
      FROM hs_t
    ),
    bands AS (
      SELECT doc_id, 0 AS band,
             MD5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR)) AS band_hash FROM sigs
      UNION ALL SELECT doc_id, 1, MD5(CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) FROM sigs
      UNION ALL SELECT doc_id, 2, MD5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR)) FROM sigs
      UNION ALL SELECT doc_id, 3, MD5(CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) FROM sigs
    ),
    cands AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
      WHERE l.doc_id < r.doc_id
    ),
    pairs AS (
      SELECT c.a, c.b
      FROM cands c
      JOIN sh_t sa ON sa.doc_id = c.a
      JOIN sh_t sb ON sb.doc_id = c.b
      WHERE CAST(LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))) AS DOUBLE)
              / (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))))
              >= 0.5
    ),
    sym AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
    reach AS (
      SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT reach.node, sym.v
      FROM reach JOIN sym ON reach.r = sym.u
    )
    SELECT node, MIN(r) AS component FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS from near-dup pairs: connected components (min-label
    propagation, operators.graph) over the MinHash-LSH similarity graph —
    the step that turns pairwise matches into keep-one-per-cluster dedup.
    The oracle computes the same components via a recursive-CTE transitive
    closure + MIN(reachable)."""
    from lms_etl_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.near_dup_pairs(docs, "doc_id", "text")
    return connected_components(pairs.select("a", "b"))


@query(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH RECURSIVE toks_t AS (
      SELECT doc_id, lang, {_TOKS} AS toks FROM documents
    ),
    quality AS (
      SELECT doc_id, lang, toks FROM toks_t
      WHERE LEN(toks) BETWEEN 10 AND 1000
        AND CAST(LEN(LIST_FILTER(toks, x -> x IN
              ('the','a','an','and','of','to','in','is','on'))) AS DOUBLE)
            / LEN(toks) <= 0.5
    ),
    exact_kept AS (
      SELECT MIN(doc_id) AS doc_id
      FROM quality
      GROUP BY MD5(COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(toks)), ' '), ''))
    ),
    survivors AS (
      SELECT q.doc_id, q.lang, q.toks FROM quality q
      JOIN exact_kept k ON q.doc_id = k.doc_id
    ),
    sh_t AS (
      SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(toks) - 1, 1)),
             i -> ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 2), ' '))) AS sh
      FROM survivors
    ),
    hs_t AS (SELECT doc_id, sh, {_BASE_HASHES} AS hs FROM sh_t WHERE LEN(sh) > 0),
    sigs AS (
      SELECT doc_id,
             {_minhash_slots_sql(8)}
      FROM hs_t
    ),
    bands AS (
      SELECT doc_id, 0 AS band,
             MD5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR)) AS band_hash FROM sigs
      UNION ALL SELECT doc_id, 1, MD5(CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) FROM sigs
      UNION ALL SELECT doc_id, 2, MD5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR)) FROM sigs
      UNION ALL SELECT doc_id, 3, MD5(CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) FROM sigs
    ),
    cands AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
      WHERE l.doc_id < r.doc_id
    ),
    pairs AS (
      SELECT c.a, c.b
      FROM cands c
      JOIN sh_t sa ON sa.doc_id = c.a
      JOIN sh_t sb ON sb.doc_id = c.b
      WHERE CAST(LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))) AS DOUBLE)
              / (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))))
              >= 0.5
    ),
    sym AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
    reach AS (
      SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT reach.node, sym.v FROM reach JOIN sym ON reach.r = sym.u
    ),
    comps AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    dropped AS (SELECT node FROM comps WHERE node != component)
    SELECT s.doc_id, s.lang, LEN(s.toks) AS n_tokens
    FROM survivors s
    WHERE s.doc_id NOT IN (SELECT node FROM dropped)
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-corpus curation story as ONE differential-tested
    pipeline: quality gates -> exact (canonical-fingerprint) dedup ->
    MinHash-LSH near-dup clustering -> keep the minimum-id doc per cluster.

    Every stage reuses the independently-verified operators (quality
    features, fingerprint, LSH pairs, connected components); the oracle
    replays the full chain in SQL, recursive closure included.  Scale: the
    chain is (narrow projections + three hash shuffles + the LSH equi-join
    + diameter-bounded label iterations) — no stage is quadratic.

    Tokenize-ONCE discipline: the corpus regex split is the
    chain's dominant per-row cost, and the naive composition pays it four
    times (quality features, fingerprint, and the minhash + verification
    legs of the LSH stage).  The pipeline materializes the token array
    in the quality stage, fingerprints FROM it (``tx.fingerprint_of``),
    checkpoints the gated frame once — so the quality subtree itself runs
    once, not once per consumer — and hands the array to the LSH stage
    (``tokens_col=``), which skips both of its re-tokenizations.  Measured
    matched min-of-3 at sf0.1: 3.40 -> 2.87 s wall, identical results."""
    from lms_etl_pipeline_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    # spread the corpus before the tokenize/HOF feature stage:
    # a single-split fixture otherwise runs the whole quality pass on one
    # core; at scale (scan parallelism >= cores) this is a no-op.
    qf = materialize(
        tx.quality_features(spread_for_cpu(d, "doc_id"), "text", keep_tokens=True)
        .filter(F.col("n_tokens").between(10, 1000) & (F.col("stop_ratio") <= 0.5))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "_toks",
            tx.fingerprint_of(F.col("_toks")).alias("fp"),
        )
    )
    exact_kept = (
        qf.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    survivors = qf.join(exact_kept, "doc_id").select(
        "doc_id", "lang", "n_tokens", "_toks"
    )
    pairs = dd.near_dup_pairs(survivors, "doc_id", "text", tokens_col="_toks")
    comps = connected_components(pairs.select("a", "b"))
    dropped = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return survivors.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_tokens"
    )


@query("dedup_simhash", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc + bucket by the top-16-bit prefix — the cheap
    near-dup prefilter (xxhash64 is engine-specific => rows-only check)."""
    # The 64-bit vote loop is an O(64·n_tokens) interpreted array
    # expression: on the raw single-split scan with the subtree INLINED
    # twice (once for the signature, once under substring) it measured
    # 6.7-7.0 s exec at sf0.1.  Spread first, then compute the signature
    # in its own projection so the bucket reads the column attribute
    # (CollapseProject keeps multi-referenced expensive exprs
    # un-duplicated): ~0.5 s, identical rows.
    d = spread_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    shc = d.select("doc_id", dd.simhash64("text").alias("simhash"))
    return shc.select(
        "doc_id",
        "simhash",
        F.substring("simhash", 1, 16).alias("bucket16"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def _knn_oracle(k: int = 5, n_queries: int = 5) -> str:
    d_qe = vec.dot_sql("e.embedding", "q.embedding", EMB_DIM)
    d_qq = vec.dot_sql("q.embedding", "q.embedding", EMB_DIM)
    d_ee = vec.dot_sql("e.embedding", "e.embedding", EMB_DIM)
    return f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < {n_queries}),
    pairs AS (
      SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             ({d_qe}) / (SQRT({d_qq}) * SQRT({d_ee})) AS cosine
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT q_id, n_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rk
      FROM pairs
    )
    SELECT q_id, n_id, rk, cosine FROM ranked WHERE rk <= {k}
    """


@query("knn_cosine_exact", oracle=_knn_oracle())
def knn_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 5 query vectors.

    Scale: the query set broadcasts; the corpus streams through once
    (linear scan).  Bit-identical to the oracle because the dot product is
    a left-assoc double fold on both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    # Norms are computed ONCE PER ROW on each side below the join, not per
    # pair above it: this third of the interpreted fold work is O(|Q|+|N|)
    # instead of O(|Q|·|N|), and the emitted float is bit-identical (same
    # ops in the same order — sqrt evaluated earlier, not differently).
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        vec.norm(F.col("embedding")).alias("_nq"),
    )
    n = e.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        vec.norm(F.col("embedding")).alias("_nn"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(n)
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.try_divide(
                vec.dot(F.col("q_emb"), F.col("n_emb")),
                F.col("_nq") * F.col("_nn"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "n_id", "rk", "cosine")
    )


def _knn_filtered_oracle(k: int = 5, n_queries: int = 5) -> str:
    d_qe = vec.dot_sql("e.embedding", "q.embedding", EMB_DIM)
    d_qq = vec.dot_sql("q.embedding", "q.embedding", EMB_DIM)
    d_ee = vec.dot_sql("e.embedding", "e.embedding", EMB_DIM)
    return f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < {n_queries}),
    corpus AS (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN documents d ON d.doc_id = e.vec_id
      WHERE d.lang = 'en'
    ),
    pairs AS (
      SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             ({d_qe}) / (SQRT({d_qq}) * SQRT({d_ee})) AS cosine
      FROM q CROSS JOIN corpus e
      WHERE e.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT q_id, n_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rk
      FROM pairs
    )
    SELECT q_id, n_id, rk, cosine FROM ranked WHERE rk <= {k}
    """


@query("knn_filtered_exact", oracle=_knn_filtered_oracle())
def knn_filtered_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid (filtered) vector search: metadata predicate first, top-k
    cosine over the survivors — pre-filtering, the semantics every vector
    store struggles to bolt on.  In a relational engine it is just a join:
    the lang predicate prunes the corpus BEFORE any distance math, so
    selectivity directly cuts compute — and the filtered result is exact,
    not a post-filtered approximation that can return < k rows.

    Scale: same broadcast-queries × linear-corpus-scan shape as
    ``knn_cosine_exact``; the metadata join rides the same scan.
    """
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    corpus = (
        e.join(d.filter(F.col("lang") == "en"), e.vec_id == d.doc_id)
        .select(
            F.col("vec_id").alias("n_id"),
            F.col("embedding").alias("n_emb"),
            vec.norm(F.col("embedding")).alias("_nn"),
        )
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        vec.norm(F.col("embedding")).alias("_nq"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("n_id") != F.col("q_id"))
        # per-row norms below the join (1 fold per pair, not 3)
        .select(
            "q_id",
            "n_id",
            F.try_divide(
                vec.dot(F.col("q_emb"), F.col("n_emb")), F.col("_nq") * F.col("_nn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "n_id", "rk", "cosine")
    )


# Fixed literal hyperplanes (versioned constants — reproducible bucketing).
_RNG = random.Random(7)
HYPERPLANES: list[list[float]] = [
    [_RNG.uniform(-1.0, 1.0) for _ in range(EMB_DIM)] for _ in range(8)
]


@query("knn_cosine_lsh", oracle=None)
def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors via random-hyperplane LSH: bucket on the
    8-bit sign signature, then exact cosine *within* the bucket.

    The 100 TB path: candidate generation is an equi-join on ``bucket``
    (256 uniform keys) instead of a corpus cross join.  Approximate recall
    => rows-only check; the exact twin above is the correctness anchor."""
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id", "embedding", vec.hyperplane_bucket(F.col("embedding"), HYPERPLANES).alias("bucket")
    )
    q = bucketed.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        vec.norm(F.col("embedding")).alias("_nq"),
        "bucket",
    )
    n = bucketed.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        vec.norm(F.col("embedding")).alias("_nn"),
        "bucket",
    )
    pairs = (
        q.join(n, "bucket")
        .filter(F.col("n_id") != F.col("q_id"))
        # per-row norms below the join (1 fold per pair, not 3)
        .select(
            "q_id",
            "n_id",
            F.try_divide(
                vec.dot(F.col("q_emb"), F.col("n_emb")), F.col("_nq") * F.col("_nn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("q_id", "n_id", "rk", "cosine")
    )


@query("knn_cosine_ivf", oracle=None)
def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors via an IVF (inverted-file) index:
    partition the corpus into cells around fixed coarse centroids, probe
    only the 2 cells nearest each query.

    Centroids here are the first 16 corpus vectors (deterministic; a real
    build runs k-means once and versions the centroids).  Cell assignment
    is one broadcast-join pass — ``argmax_j cos(v, c_j)`` as a codegen'd
    expression over a 16-element struct array.  The probe join is an
    equi-join on ``cell``: at 100 TB the corpus scan is replaced by
    reading ~nprobe/nlist of the data — the classic IVF trade.
    Approximate recall => rows-only check; ``knn_cosine_exact`` anchors
    correctness."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    if not cents:
        # an empty corpus has no centroids and no neighbors — return the
        # empty result with the contract schema instead of feeding a
        # zero-row centroid matrix to the scoring UDF (numpy AxisError)
        return spark.createDataFrame(
            [], "q_id BIGINT, n_id BIGINT, rk INT, cosine DOUBLE"
        )

    def best_cells(df: DataFrame, nprobe: int) -> DataFrame:
        # one Arrow-batched numpy matmul per batch scores all 16 cells;
        # argsort top-nprobe cells via array_sort over (score, cell) structs
        scored = df.withColumn("_scores", vec.cosines_to_centroids(F.col("embedding"), cents))
        ranked = F.slice(
            F.reverse(
                F.array_sort(
                    F.transform(
                        F.col("_scores"),
                        lambda s, i: F.struct(s.alias("cos"), i.alias("cell")),
                    )
                )
            ),
            1,
            nprobe,
        )
        return scored.withColumn("cell", F.explode(F.transform(ranked, lambda s: s["cell"]))).drop(
            "_scores"
        )

    corpus = (
        best_cells(e.select(F.col("vec_id").alias("n_id"), F.col("embedding")), 1)
        .withColumnRenamed("embedding", "n_emb")
        .withColumn("_nn", vec.norm(F.col("n_emb")))
    )
    qset = (
        best_cells(
            e.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("q_id"), F.col("embedding")), 2
        )
        .withColumnRenamed("embedding", "q_emb")
        .withColumn("_nq", vec.norm(F.col("q_emb")))
    )
    pairs = (
        corpus.join(F.broadcast(qset), "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        # norms precomputed per row below the join (1 fold per pair, not 3)
        .select(
            "q_id",
            "n_id",
            F.try_divide(
                vec.dot(F.col("q_emb"), F.col("n_emb")), F.col("_nq") * F.col("_nn")
            ).alias("cosine"),
        )
        # a (q, n) pair can appear via both probed cells
        .dropDuplicates(["q_id", "n_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("q_id", "n_id", "rk", "cosine")
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300)
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(({vec.dot_sql('a.embedding', 'b.embedding', EMB_DIM)})
                 / (SQRT({vec.dot_sql('a.embedding', 'a.embedding', EMB_DIM)})
                    * SQRT({vec.dot_sql('b.embedding', 'b.embedding', EMB_DIM)})), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ({vec.dot_sql('a.embedding', 'b.embedding', EMB_DIM)})
          / (SQRT({vec.dot_sql('a.embedding', 'a.embedding', EMB_DIM)})
             * SQRT({vec.dot_sql('b.embedding', 'b.embedding', EMB_DIM)})) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact mode (oracle anchor).

    All-pairs on a bounded id range so the oracle stays O(n²)-small; the
    production path is the same cosine filter after hyperplane-LSH
    bucketing (``knn_cosine_lsh``) or IVF cells (``knn_cosine_ivf``) —
    candidate generation by equi-join, never a corpus cross join."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    # Per-side norms below the join: one interpreted fold per PAIR instead
    # of three (the dot); measured ~1.6x on the warm sf0.1 bench run,
    # bit-identical output (same float ops, evaluated once per row).
    a = e.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("ea"),
        vec.norm(F.col("embedding")).alias("_na"),
    )
    b = e.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"),
        vec.norm(F.col("embedding")).alias("_nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cosine",
            F.try_divide(
                vec.dot(F.col("ea"), F.col("eb")), F.col("_na") * F.col("_nb")
            ),
        )
        .filter(F.col("cosine") >= 0.4)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


@query(
    "embedding_norm_stats",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(FLOOR(SQRT({vec.dot_sql('embeddings.embedding', 'embeddings.embedding', EMB_DIM)})
                * 1000000000) AS BIGINT)) AS DOUBLE) / 1000000000.0 / COUNT(*)
             AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm statistics.  Norms are quantized by
    FLOOR(norm*1e9) — identical IEEE multiply + floor in both engines, no
    rounding tie possible — then summed as exact integers (order-free)."""
    e = load_table(spark, sf_dir, "embeddings")
    n_u = F.floor(vec.norm(F.col("embedding")) * 1_000_000_000).cast("bigint")
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            (F.sum(n_u).cast("double") / 1_000_000_000.0 / F.count("*"))
            .alias("avg_norm"),
        )
    )


@query(
    "embedding_centroids",
    oracle="""
    WITH ex AS (
      SELECT label,
             CAST(UNNEST(RANGE(0, LEN(embedding))) AS INTEGER) AS dim,
             UNNEST(embedding) AS x
      FROM embeddings
    )
    SELECT label, dim,
           CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000000) AS BIGINT))
                AS DOUBLE) / 1000000000.0 / COUNT(*) AS mean_val
    FROM ex GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in long form (label, dim, mean) — the
    k-means/IVF training step (`knn_cosine_ivf` consumes exactly these cell
    centroids) made oracle-exact: each value is quantized by FLOOR(x*1e9)
    — the same IEEE multiply then the same floor in both engines, so no
    rounding TIE can ever split them (a float that is an odd multiple of
    2^-10, e.g. 0.1494140625, lands exactly on a .5 nano boundary, where
    Spark's HALF_UP decimal cast and DuckDB's multiply-and-round disagree
    — found live at sf0.1, pinned in tests/test_numeric_conventions.py)
    — then summed as exact integers (order-free distributed reduction).

    Plan: ONE posexplode to (label, dim, x) long form — 64 rows per vector —
    then a partial+final hash agg on (label, dim); both keys are uniform, no
    skew, linear at any corpus size.  The long form IS the scale trick:
    no per-row array state survives the shuffle, only per-(group, dim)
    partials.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    x_u = F.floor(F.col("x").cast("double") * 1_000_000_000).cast("bigint")
    return ex.groupBy("label", "dim").agg(
        (F.sum(x_u).cast("double") / 1_000_000_000.0 / F.count("*"))
        .alias("mean_val")
    )


@query(
    "udtf_sentence_split",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT_REGEX(text, '[.!?]+'),
                                        x -> TRIM(x)), x -> x != '') AS sents
      FROM documents
    )
    SELECT doc_id,
           CAST(UNNEST(RANGE(1, LEN(sents) + 1)) AS INTEGER) AS sentence_idx,
           UNNEST(sents) AS sentence
    FROM s
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one input doc -> N sentence rows.

    The UDTF is the row-generating escape hatch when explode over a single
    array expression can't express the logic (stateful parsers, multi-column
    emission).  This one IS regex-expressible — deliberately, so the UDTF
    machinery itself (arrow transfer, lateral join planning) gets an oracle
    check.  Scale: evaluated per-partition, no shuffle added."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx INT, sentence STRING")
    class SentenceSplitDense:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for raw in _re.split(r"[.!?]+", text):
                s = raw.strip()
                if s:
                    idx += 1
                    yield idx, s

    spark.udtf.register("sentence_split", SentenceSplitDense)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence
        FROM docs_udtf d, LATERAL sentence_split(d.text) s
        """
    )


@query(
    "pandas_udaf_geomean",
    oracle="""
    SELECT c_mktsegment,
           ROUND(EXP(SUM(LN(c_acctbal)) / COUNT(*)), 4) AS geomean_bal,
           COUNT(*) AS n
    FROM customer WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    """,
)
def pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF (grouped-aggregate pandas_udf): per-segment geometric
    mean — a custom aggregate Spark lacks natively, Arrow-batched per
    group.  Rounded to 4 decimals: the log-sum is an order-dependent float
    reduction, and 1e-4 absorbs the cross-engine ulp drift the exact
    decimal trick can't fix for transcendental functions."""
    from lms_etl_pipeline_spark.functions.pandas_aggs import geomean, pd_count

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return c.groupBy("c_mktsegment").agg(
        F.round(geomean("c_acctbal"), 4).alias("geomean_bal"),
        pd_count("c_acctbal").alias("n"),
    )


@query(
    "applyinpandas_group_rank",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS bal_rank
    FROM customer
    """,
)
def applyinpandas_group_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: per-segment pandas computation (here a
    deterministic in-group rank) — the escape hatch for group-local logic
    Spark expressions can't state (model scoring per group, per-entity
    curve fitting).  Integer outputs with a total tiebreak keep it
    oracle-checkable.

    Scale: one shuffle on the group key; each group must fit one executor's
    memory — use only for bounded groups (segments, entities), never for
    whole-table 'groups'."""
    import pandas as pd

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["c_acctbal", "c_custkey"], ascending=[False, True])
        pdf["bal_rank"] = range(1, len(pdf) + 1)
        return pdf

    c = load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey", "c_acctbal")
    return c.groupBy("c_mktsegment").applyInPandas(
        rank_group,
        "c_mktsegment STRING, c_custkey BIGINT, c_acctbal DOUBLE, bal_rank BIGINT",
    )


@query(
    "cogroup_pandas_asof",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           CAST(DATEDIFF('microsecond', c.ts, p.ts) AS BIGINT) AS micros_since_click
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def cogroup_pandas_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas`` — the fourth Python-compute shape (after
    grouped-map, grouped-agg, UDTF): two frames cogrouped on a key, each
    pair of per-key pandas frames merged with ``pd.merge_asof``.  Semantics
    mirror the native as-of join (``join_asof_last_click``), which is the
    point: the same oracle checks Spark's JVM path and the Arrow-batched
    pandas path, and the time-since-last-click delta is exact integer
    microseconds on both engines.

    Scale: one shuffle per side on user_id; each user's event history must
    fit in one task's memory — the cogroup contract (bounded per-entity
    history), never whole-table groups.
    """
    import pandas as pd

    def asof_merge(purchases: pd.DataFrame, clicks: pd.DataFrame) -> pd.DataFrame:
        if len(purchases) == 0:
            return pd.DataFrame(
                {"event_id": pd.Series(dtype="int64"),
                 "user_id": pd.Series(dtype="int64"),
                 "micros_since_click": pd.Series(dtype="Int64")}
            )
        p = purchases.sort_values("ts")
        c = clicks.sort_values("ts").assign(click_ts=lambda d: d["ts"])
        merged = pd.merge_asof(p, c[["ts", "click_ts"]], on="ts", direction="backward")
        micros = (merged["ts"] - merged["click_ts"]) // pd.Timedelta(microseconds=1)
        return pd.DataFrame(
            {"event_id": merged["event_id"],
             "user_id": merged["user_id"],
             "micros_since_click": micros.astype("Int64")}
        )

    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click").select("user_id", "ts").distinct()
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            asof_merge, "event_id BIGINT, user_id BIGINT, micros_since_click BIGINT"
        )
    )


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@query(
    "multimodal_join_features",
    oracle=f"""
    SELECT d.doc_id, d.lang, d.source, e.label,
           OCTET_LENGTH(ENCODE(d.text)) AS payload_bytes,
           MD5(d.text) AS payload_md5,
           ROUND(SQRT({vec.dot_sql('e.embedding', 'e.embedding', EMB_DIM)}), 6) AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def multimodal_join_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One multimodal row per document: text payload treated as opaque
    binary (length + content hash) + typed metadata + its embedding — the
    canonical multimodal-table shape (binary column, array<float> column,
    scalar metadata) joined on the shared id."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    payload = F.encode(F.col("text"), "UTF-8")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            "lang",
            "source",
            "label",
            F.octet_length(payload).alias("payload_bytes"),
            F.md5(payload).alias("payload_md5"),
            F.round(vec.norm(F.col("embedding")), 6).alias("emb_norm"),
        )
    )
