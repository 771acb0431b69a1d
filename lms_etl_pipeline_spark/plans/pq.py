"""Product quantization (PQ) — codebook training, encoding, and the
asymmetric-distance (ADC) k-NN scan, all integer-exact.

PQ (Jégou, Douze, Schmid — "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011) is the compression layer every billion-scale ANN
stack runs under its coarse quantizer: split each d-dim vector into M
subvectors, k-means each subspace independently, and store only the M
per-subspace code ids (here 8 × 4 bits = one BIGINT per vector instead of
64 floats — a 64× memory cut).  Queries never decompress: a per-query
M×K lookup table of subspace distances turns each candidate's distance
into M table lookups (ADC).

Unlike the engine's LSH/IVF paths (rows-only by design — engine-seeded
hash families), this family is **value-exact end to end** and therefore
fully oracle-backed: every vector component is quantized once to integer
micro-units (``round(x·10^6)`` after an exact float32→double widen — the
seed-37 discipline from ``kmeans_lloyd``), and from there ALL arithmetic
— assignment distances, centroid means (half-up integer division),
encode distances, LUT entries, ADC sums — is exact int64, so sum order,
partitioning, and engine cannot change a single output bit.

Trainer shape (mirrors ``kmeans_lloyd``, per subspace): seeds = the first
K vectors' subvectors; one Lloyd refinement (assign → exact integer mean).
Empty clusters (possible under duplicate seeds) drop out of the codebook
on both engines identically, because the refined book is a GROUP BY over
actual assignments.

Int64 headroom: |x| ≤ 1 in every fixture (incl. the fuzzer's [-1,1]
axes) ⇒ |xu| ≤ 10^6, per-dim diff² ≤ 4·10^12, per-subspace d2 ≤
3.2·10^13, full ADC distance ≤ 2.6·10^14 — four orders of magnitude of
margin; the documented precondition is |x| ≤ ~300 (diff² ≤ 3.6·10^17,
subspace sum ≤ 2.9·10^18 < int64 max).  Cross-row mean SUMs widen to
DECIMAL(38,0)/HUGEINT *internally*; every OUTPUT column is INT/BIGINT
(the no-decimal-output rule, ``tools/check_oracle.py``).

Scale posture (100 TB):

- ``pq_codebook_train``: assignment is a map-only pass — the K·M-row seed
  book is regrouped into an M-row frame of K-struct arrays, broadcast,
  and argmin runs INSIDE each row via ``array_min`` over per-candidate
  (d2, cid) structs (no corpus expansion, no shuffle); the mean update is
  one posexplode + groupBy(s, cid, pos) — ≤ M·K·DSUB = 1024 groups, so
  partial aggregation collapses it map-side.
- ``pq_encode_codes``: the refined book re-broadcasts the same way;
  encode is again map-only argmin per (row, subspace) and one
  groupBy(vec_id) nibble-pack — a single narrow shuffle of M small rows
  per vector with map-side combine.  At 100 TB this is the
  embarrassingly-parallel job PQ encode is supposed to be.
- ``knn_pq_adc``: the LUT is Q·M·K rows (here 384) built from the
  broadcast book, itself broadcast; the scan is one broadcast-hash join
  codes⋈lut + groupBy(query, vec) integer SUM — the corpus is never the
  build side and never re-read in float form.  Compare
  ``knn_cosine_exact`` (reads 64 floats/row) vs this (reads M=8 codes):
  the 100 TB win is exactly the PQ memory-bandwidth story.

Reference scope: the reference pipeline (pandas/boto3 Lambda ETL,
``/root/reference/src/``) has no vector search; this extends the engine
along the training-data/ANN axis the build mandates (SURVEY §2 LLM ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.llm import EMB_DIM
from lms_etl_pipeline_spark.sources.tables import load_table

#: subspaces × dims-per-subspace = EMB_DIM; K codes per subspace (4 bits)
PQ_M = 8
PQ_DSUB = EMB_DIM // PQ_M
PQ_K = 16
#: ADC scan: queries are the first _NQ vectors; top-K neighbors emitted
_NQ = 3
_TOPK = 10
#: micro-unit scale (float32 → double is exact; round once, then int-only)
_U = 1_000_000

# --------------------------------------------------------------------------
# Shared oracle CTE chain (DuckDB): long (vec_id, s, pos, xu) form
# --------------------------------------------------------------------------

# float32 → DOUBLE first (exact), then one ROUND: both engines round
# half-away-from-zero on doubles, and the widen makes them round the SAME
# binary value (the seed-37 class, documented in kmeans_lloyd)
_XU_SQL = f"CAST(ROUND(CAST(e.embedding[d.i] AS DOUBLE) * {_U}) AS BIGINT)"

_PQ_PREFIX = f"""
    x AS MATERIALIZED (
      SELECT e.vec_id,
             CAST((d.i - 1) // {PQ_DSUB} AS INT) AS s,
             CAST((d.i - 1) % {PQ_DSUB} AS INT) AS pos,
             {_XU_SQL} AS xu
      FROM embeddings e, (SELECT UNNEST(RANGE(1, {EMB_DIM} + 1)) AS i) d),
    sd AS (SELECT CAST(vec_id AS INT) AS cid, s, pos, xu
           FROM x WHERE vec_id < {PQ_K}),
    d0 AS (SELECT x.vec_id, x.s, sd.cid,
                  SUM((x.xu - sd.xu) * (x.xu - sd.xu)) AS d2u
           FROM x JOIN sd ON x.s = sd.s AND x.pos = sd.pos
           GROUP BY 1, 2, 3),
    a0 AS (SELECT vec_id, s, cid FROM (
             SELECT vec_id, s, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                       ORDER BY d2u, cid) AS rn
             FROM d0) WHERE rn = 1),
    cb AS MATERIALIZED (
      SELECT s, cid, pos,
             CAST(CASE WHEN sxu >= 0 THEN (2 * sxu + n) // (2 * n)
                  ELSE -((2 * (-sxu) + n) // (2 * n)) END AS BIGINT) AS cu
      FROM (SELECT a.s, a.cid, x.pos,
                   SUM(CAST(x.xu AS HUGEINT)) AS sxu,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM a0 a JOIN x ON a.vec_id = x.vec_id AND a.s = x.s
            GROUP BY 1, 2, 3))"""

_PQ_ENCODE_CTES = """,
    d1 AS (SELECT x.vec_id, x.s, cb.cid,
                  SUM((x.xu - cb.cu) * (x.xu - cb.cu)) AS d2u
           FROM x JOIN cb ON x.s = cb.s AND x.pos = cb.pos
           GROUP BY 1, 2, 3),
    a1 AS MATERIALIZED (SELECT vec_id, s, cid, d2u FROM (
             SELECT vec_id, s, cid, d2u,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                       ORDER BY d2u, cid) AS rn
             FROM d1) WHERE rn = 1)"""

_CODEBOOK_ORACLE = f"""
    WITH{_PQ_PREFIX}
    SELECT s, cid, pos, cu FROM cb
"""

_ENCODE_ORACLE = f"""
    WITH{_PQ_PREFIX}{_PQ_ENCODE_CTES}
    SELECT vec_id,
           CAST(SUM(CAST(cid AS BIGINT) << (4 * s)) AS BIGINT) AS pq_code,
           CAST(SUM(d2u) AS BIGINT) AS recon_d2_u
    FROM a1 GROUP BY vec_id
"""

def _adc_ctes(nq: int) -> str:
    """LUT + ADC-distance CTEs for the first ``nq`` vectors as queries."""
    return f""",
    lut AS (SELECT q.vec_id AS query_id, cb.s, cb.cid,
                   SUM((q.xu - cb.cu) * (q.xu - cb.cu)) AS qd
            FROM x q JOIN cb ON q.s = cb.s AND q.pos = cb.pos
            WHERE q.vec_id < {nq}
            GROUP BY 1, 2, 3),
    adc AS (SELECT l.query_id, a.vec_id,
                   CAST(SUM(l.qd) AS BIGINT) AS adc_d2_u
            FROM a1 a JOIN lut l ON a.s = l.s AND a.cid = l.cid
            GROUP BY 1, 2)"""


_ADC_ORACLE = f"""
    WITH{_PQ_PREFIX}{_PQ_ENCODE_CTES}{_adc_ctes(_NQ)}
    SELECT query_id, vec_id, adc_d2_u, CAST(rn AS INT) AS rank
    FROM (SELECT query_id, vec_id, adc_d2_u,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adc_d2_u, vec_id) AS rn
          FROM adc WHERE vec_id <> query_id)
    WHERE rn <= {_TOPK}
"""

#: recall evaluation: more queries, tighter k (the ann_recall_eval shape)
_REC_QIDS = 20
_REC_K = 3

_RECALL_ORACLE = f"""
    WITH{_PQ_PREFIX}{_PQ_ENCODE_CTES}{_adc_ctes(_REC_QIDS)},
    approx AS (SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2_u, vec_id) AS rn
        FROM adc WHERE vec_id <> query_id)
      WHERE rn <= {_REC_K}),
    ed AS (SELECT q.vec_id AS query_id, c.vec_id,
                  CAST(SUM((q.xu - c.xu) * (q.xu - c.xu)) AS BIGINT) AS d2u
           FROM x q JOIN x c ON q.s = c.s AND q.pos = c.pos
           WHERE q.vec_id < {_REC_QIDS} AND c.vec_id <> q.vec_id
           GROUP BY 1, 2),
    exact AS (SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2u, vec_id) AS rn
        FROM ed) WHERE rn <= {_REC_K})
    SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COALESCE(SUM(CASE WHEN a.vec_id IS NOT NULL
                             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_found,
           CAST(COALESCE(SUM(CASE WHEN a.vec_id IS NOT NULL
                             THEN 1 ELSE 0 END), 0) AS DOUBLE) / COUNT(*)
               AS recall
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id
"""

# --------------------------------------------------------------------------
# Spark side: array-form micro-unit subvectors, broadcast codebooks
# --------------------------------------------------------------------------


def _xu(col) -> F.Column:
    """float32 slice → exact-double widen → one round → int64 micro-units."""
    return F.transform(
        col, lambda v: F.round(v.cast("double") * F.lit(float(_U))).cast("bigint")
    )


def _subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, s, xv: array<bigint>) — M rows per vector, map-only."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                _xu(F.slice("embedding", s * PQ_DSUB + 1, PQ_DSUB)).alias("xv"),
            )
            for s in range(PQ_M)
        ]
    )
    return e.select("vec_id", F.inline(subs))


def _d2u(a, b) -> F.Column:
    """Exact int64 squared-L2 between two micro-unit arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + p,
    )


def _book_rows_to_arrays(book: DataFrame) -> DataFrame:
    """(s, cid, pos, cu) rows → (s, cents: array<struct<cid, cvec>>) —
    the M-row broadcastable form the map-only argmin consumes."""
    vecs = (
        book.groupBy("s", "cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cu"))).alias("p"))
        .select("s", "cid", F.transform("p", lambda x: x["cu"]).alias("cvec"))
    )
    return (
        vecs.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("cents"))
    )


def _argmin_code(
    xs: DataFrame, book_arrays: DataFrame, keep_vec: bool = False
) -> DataFrame:
    """(vec_id, s, cid, d2u[, xv]): nearest centroid per (row, subspace) via
    an in-row array_min over (d2, cid) structs — no corpus expansion, no
    shuffle (struct ordering = lexicographic ⇒ d2-then-cid tiebreak).
    ``keep_vec=True`` carries the subvector through so a consumer that
    needs (assignment, xv) pairs — the Lloyd mean — does not have to join
    the assignment back to ``xs`` (that join would be an SMJ with two
    corpus-sized array-payload exchanges in every PQ query)."""
    best = F.array_min(
        F.transform(
            "cents",
            lambda c: F.struct(
                _d2u(F.col("xv"), c["cvec"]).alias("d2u"), c["cid"].alias("cid")
            ),
        )
    )
    tail = ["xv"] if keep_vec else []
    return xs.join(F.broadcast(book_arrays), "s").select(
        "vec_id", "s", best.alias("b"), *tail
    ).select(
        "vec_id",
        "s",
        F.col("b.cid").alias("cid"),
        F.col("b.d2u").alias("d2u"),
        *tail,
    )


def _seed_book(xs: DataFrame) -> DataFrame:
    """Seed codebook rows (s, cid, pos, cu) = first K vectors' subvectors."""
    return (
        xs.filter(F.col("vec_id") < PQ_K)
        .select(
            F.col("vec_id").cast("int").alias("cid"),
            "s",
            F.posexplode("xv").alias("pos", "cu"),
        )
        .select("s", "cid", F.col("pos").cast("int").alias("pos"), "cu")
    )


def _train_book(xs: DataFrame) -> DataFrame:
    """One Lloyd refinement of the seed book — rows (s, cid, pos, cu),
    means in exact half-up integer division (DECIMAL(38,0) internal sums,
    BIGINT out)."""
    # keep_vec carries xv with the assignment — the old a0 ⋈ xs join (SMJ,
    # two corpus-sized exchanges of array payloads) folds into the same
    # map-only pass; rows are identical because the
    # join was 1:1 on (vec_id, s) by construction.
    a0 = _argmin_code(xs, _book_rows_to_arrays(_seed_book(xs)), keep_vec=True)
    m = a0.select("s", "cid", F.posexplode("xv").alias("pos", "xu"))
    return (
        m.groupBy("s", "cid", "pos")
        .agg(
            F.sum(F.col("xu").cast("decimal(38,0)")).alias("sxu"),
            F.count("*").cast("bigint").alias("n"),
        )
        .select(
            "s",
            "cid",
            F.col("pos").cast("int").alias("pos"),
            F.expr(
                "CAST(CASE WHEN sxu >= 0 THEN (2 * sxu + n) div (2 * n) "
                "ELSE -((2 * (-sxu) + n) div (2 * n)) END AS BIGINT)"
            ).alias("cu"),
        )
    )


@query("pq_codebook_train", oracle=_CODEBOOK_ORACLE)
def pq_codebook_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the PQ codebook: per subspace, k-means seeded from the first
    K={PQ_K} subvectors with one exact-integer Lloyd refinement (module
    docstring).  Output: one row per (subspace, code, dim) with the
    micro-unit centroid component — M·K·DSUB ≤ 1024 rows, all INT/BIGINT.
    """
    xs = _subvectors(load_table(spark, sf_dir, "embeddings"))
    return _train_book(xs)


@query("pq_encode_codes", oracle=_ENCODE_ORACLE)
def pq_encode_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus under the trained book: per vector, the M=8
    4-bit nearest-code ids nibble-packed into ONE BIGINT (`pq_code`) plus
    the exact integer reconstruction error (`recon_d2_u`) — the quality
    audit a pipeline gates on before swapping its serving index, emitted
    with the codes the way ``embedding_int8_quantize`` emits
    ``max_abs_err``.  Map-only argmin; one narrow M-rows-per-vector
    shuffle to pack."""
    xs = _subvectors(load_table(spark, sf_dir, "embeddings"))
    a1 = _argmin_code(xs, _book_rows_to_arrays(_train_book(xs)))
    return a1.groupBy("vec_id").agg(
        F.sum(F.expr("shiftleft(CAST(cid AS BIGINT), 4 * s)")).alias("pq_code"),
        F.sum("d2u").alias("recon_d2_u"),
    )


def _adc_distances(xs: DataFrame, book: DataFrame, nq: int) -> DataFrame:
    """(query_id, vec_id, adc_d2_u): PQ asymmetric distances for the first
    ``nq`` vectors as queries — the broadcast-LUT scan (module docstring),
    self-pairs excluded."""
    a1 = _argmin_code(xs, _book_rows_to_arrays(book))
    q = xs.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "s", F.col("xv").alias("qv")
    )
    # LUT = exact subspace distance query↔centroid in array form (join on
    # s only, then an in-row fold) — no pos-level expansion.
    cbv = (
        book.groupBy("s", "cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cu"))).alias("p"))
        .select("s", "cid", F.transform("p", lambda x: x["cu"]).alias("cvec"))
    )
    lut = q.join(F.broadcast(cbv), "s").select(
        "query_id", "s", "cid", _d2u(F.col("qv"), F.col("cvec")).alias("qd")
    )
    return (
        a1.join(F.broadcast(lut), ["s", "cid"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd").alias("adc_d2_u"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )


def _topk(pairs: DataFrame, dist: str, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(dist, "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@query("knn_pq_adc", oracle=_ADC_ORACLE)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOPK} nearest neighbors per query by PQ asymmetric distance:
    the query keeps its exact micro-unit subvectors, candidates are read
    ONLY through their codes, and distance = Σ_s LUT[s, code_s] — a
    Q·M·K-row integer lookup table (here 384 rows) joined broadcast
    against the code stream.  Integer-exact ⇒ full value oracle, unlike
    the engine's LSH/IVF rows-only paths; recall vs the exact scan is
    measured by ``ann_recall_eval``'s discipline (PQ trades recall for a
    64× smaller candidate side — the 100 TB memory-bandwidth win)."""
    xs = _subvectors(load_table(spark, sf_dir, "embeddings"))
    adc = _adc_distances(xs, _train_book(xs), _NQ)
    return _topk(adc, "adc_d2_u", _TOPK).select(
        "query_id",
        "vec_id",
        "adc_d2_u",
        F.col("rank").cast("int").alias("rank"),
    )


@query("pq_recall_eval", oracle=_RECALL_ORACLE)
def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@{_REC_K} of the PQ ADC scan against the exact
    micro-unit squared-L2 top-{_REC_K} over {_REC_QIDS} queries — the
    quality measurement that says whether M=8×K=16 is enough before
    trusting the 64×-compressed code path on the full corpus (the
    ``ann_recall_eval`` discipline applied to PQ).  Both sides are
    integer-exact, so unlike the LSH/IVF recall rows this whole
    evaluation is value-oracle-backed.

    Scale: the exact side is a {_REC_QIDS}-row broadcast against one
    linear scan (bounded by |queries|, never corpus×corpus); the ADC side
    is the same broadcast-LUT join as ``knn_pq_adc``."""
    e = load_table(spark, sf_dir, "embeddings")
    xs = _subvectors(e)
    approx = _topk(
        _adc_distances(xs, _train_book(xs), _REC_QIDS), "adc_d2_u", _REC_K
    ).select("query_id", "vec_id")
    # exact side: full micro-unit vectors, query broadcast × linear scan
    full = e.select("vec_id", _xu(F.col("embedding")).alias("xv"))
    q = full.filter(F.col("vec_id") < _REC_QIDS).select(
        F.col("vec_id").alias("query_id"), F.col("xv").alias("qv")
    )
    ed = (
        F.broadcast(q)
        .crossJoin(full)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", _d2u(F.col("qv"), F.col("xv")).alias("d2u")
        )
    )
    exact = _topk(ed, "d2u", _REC_K).select("query_id", "vec_id")
    ap = approx.select(
        F.col("query_id").alias("_aq"), F.col("vec_id").alias("_av")
    )
    return (
        exact.join(
            ap,
            (F.col("query_id") == F.col("_aq"))
            & (F.col("vec_id") == F.col("_av")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.sum(F.when(F.col("_av").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_found"),
        )
        .select(
            "query_id",
            "n_true",
            "n_found",
            (F.col("n_found").cast("double") / F.col("n_true")).alias("recall"),
        )
    )
