"""Similarity-calibration plans: the measurements that certify the
engine's approximate similarity paths with exactly-checkable numbers
(split from plans/graph_retrieval.py at the 1,100-LoC module
convention boundary — registry unchanged).

Matryoshka truncation eval (retrieval overlap at reduced embedding
dimension), embedding centroid drift, LSH s-curve calibration, and the
MinHash estimator error profile.

Scale shapes: all-pairs shapes exist only as bounded id-range calibration
anchors whose row bounds are DECLARED and machine-checked by
tools/audit_plans.py.  Numeric discipline as in plans/timeseries.py.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import dedup as dd
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators import vectors as vec
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.llm import EMB_DIM
from lms_etl_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Matryoshka truncation eval (retrieval overlap at reduced dimension)
# --------------------------------------------------------------------------

_MRL_DIM = 16


def _mrl_oracle() -> str:
    return f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             {vec.cosine_sql("q.embedding", "n.embedding", EMB_DIM)} AS cos_full,
             {vec.cosine_sql("q.embedding", "n.embedding", _MRL_DIM)} AS cos_tr
      FROM q, embeddings n WHERE n.vec_id <> q.vec_id),
    rk AS (
      SELECT q_id, n_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_full DESC, n_id ASC) AS r_full,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_tr DESC, n_id ASC) AS r_tr
      FROM pairs)
    SELECT q_id,
           CAST(COUNT(*) FILTER (WHERE r_full <= 10 AND r_tr <= 10) AS BIGINT)
             AS n_overlap_at_10,
           ROUND(CAST(COUNT(*) FILTER (WHERE r_full <= 10 AND r_tr <= 10)
                      AS DOUBLE) / 10, 6) AS overlap_frac
    FROM rk GROUP BY q_id
    """


@query("matryoshka_truncation_eval", oracle=_mrl_oracle())
def matryoshka_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation eval: how much of each query's exact
    cosine top-10 survives when embeddings are truncated to the first
    {_MRL_DIM} of {EMB_DIM} dims — the cost/quality readout behind
    MRL-truncated vector serving (store/search the prefix, rerank with
    the full vector), measured as top-10 overlap per query.

    Both rankings come from bit-stable cosines (same left-assoc fold both
    engines, vec_id tiebreak); the overlap count is exact.

    Scale: the 10-query set broadcasts; ONE corpus linear scan computes
    both similarity columns; two windows over the per-query candidate
    rows.  The production path truncates at WRITE time, halving scan
    bytes — this query quantifies what that costs in recall.
    """
    e = load_table(spark, sf_dir, "embeddings")
    trunc = F.slice(F.col("embedding"), 1, _MRL_DIM)

    def with_tr(df: DataFrame) -> DataFrame:
        # the truncated prefix and its norm, once per row like the full ones
        return df.select("vec_id", "embedding", trunc.alias("tr"), vec.norm(trunc).alias("tr_norm"))

    pairs = vec.cosine_pairs(with_tr(e.filter(F.col("vec_id") < 10)), with_tr(e)).select(
        "q_id",
        "n_id",
        F.col("cosine").alias("cos_full"),
        vec.cosine(
            F.col("q_tr"), F.col("n_tr"), F.col("q_tr_norm"), F.col("n_tr_norm")
        ).alias("cos_tr"),
    )
    wf = Window.partitionBy("q_id").orderBy(
        F.col("cos_full").desc(), F.col("n_id").asc()
    )
    wt = Window.partitionBy("q_id").orderBy(
        F.col("cos_tr").desc(), F.col("n_id").asc()
    )
    rk = pairs.select(
        "q_id",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wt).alias("r_tr"),
    )
    both = (F.col("r_full") <= 10) & (F.col("r_tr") <= 10)
    return rk.groupBy("q_id").agg(
        F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias("n_overlap_at_10"),
        F.round(
            F.sum(F.when(both, 1).otherwise(0)).cast("double") / 10, 6
        ).alias("overlap_frac"),
    )


# --------------------------------------------------------------------------
# Embedding centroid drift
# --------------------------------------------------------------------------


def _centroid_sql(pred: str, alias: str) -> str:
    """Per-dimension tie-free centroid of a filtered embedding set:
    FLOOR(val*1e9) quantization (identical IEEE multiply + floor in both
    engines — no rounding tie, unlike a decimal cast) then exact integer
    sum."""
    return f"""
    {alias} AS (
      SELECT dim,
             CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000000) AS BIGINT))
                  AS DOUBLE) / 1000000000.0 / COUNT(*) AS c
      FROM (SELECT UNNEST(embedding) AS val,
                   GENERATE_SUBSCRIPTS(embedding, 1) AS dim
            FROM embeddings WHERE {pred})
      GROUP BY dim)"""


def _d12_sum(term: str) -> str:
    """Each term rounded at 1e-12, then DECIMAL-summed (order-independent)."""
    return f"SUM(CAST(ROUND({term}, 12) AS DECIMAL(28,12)))"


@query(
    "embedding_centroid_drift",
    oracle=f"""
    WITH {_centroid_sql("vec_id % 10 <> 7", "ci")},
    {_centroid_sql("vec_id % 10 = 7", "cd")}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
           ROUND(SQRT({_d12_sum("(ci.c - cd.c) * (ci.c - cd.c)")}), 8) AS l2_drift,
           ROUND({vec.cosine_of_sql(
               _d12_sum("ci.c * cd.c"), _d12_sum("ci.c * ci.c"), _d12_sum("cd.c * cd.c")
           )}, 8) AS centroid_cosine
    FROM ci JOIN cd ON cd.dim = ci.dim
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between the delta batch and the index corpus
    (the scalar-drift split of ``psi_drift_report``/``ks_test_drift``
    applied to VECTORS): per-dimension exact-decimal centroids for each
    split, then the L2 distance and cosine between the two centroid
    vectors — the embedding-distribution monitor vector platforms run to
    catch encoder regressions and upstream-content shifts that no scalar
    column would show.

    Numerics: centroids follow the ``embedding_centroids`` idiom —
    FLOOR(val*1e9) integer quantization (tie-free in both engines) and
    exact integer sums closed by double division; the cross-dimension
    L2/cosine reductions round each product term at 1e-12 then
    DECIMAL-sum (order-independent), with one final rounding per output.

    Scale: ONE corpus scan explodes to (dim, val) pairs aggregated
    map-side per dimension — state is 2×{EMB_DIM} cells regardless of
    corpus size; mergeable across any partitioning, streamable as an
    incremental aggregate.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pairs = e.select(
        (F.col("vec_id") % 10 == 7).alias("in_delta"),
        F.posexplode("embedding").alias("dim0", "val"),
    ).select("in_delta", (F.col("dim0") + 1).alias("dim"), "val")
    # the embedding_centroids idiom: FLOOR(val*1e9) integer quantization
    # (identical IEEE multiply + floor in both engines — a decimal cast
    # has rounding TIES on odd multiples of 2^-10, found live at sf0.1),
    # exact integer sum, then double division — no decimal-division path
    # (whose scale handling differs between engines) ever runs
    val_u = F.floor(F.col("val").cast("double") * 1_000_000_000).cast("bigint")
    cent = pairs.groupBy("dim").agg(
        (
            F.sum(F.when(~F.col("in_delta"), val_u)).cast("double")
            / 1_000_000_000.0
            / F.sum(F.when(~F.col("in_delta"), 1).otherwise(0))
        ).alias("ci"),
        (
            F.sum(F.when(F.col("in_delta"), val_u)).cast("double")
            / 1_000_000_000.0
            / F.sum(F.when(F.col("in_delta"), 1).otherwise(0))
        ).alias("cd"),
    )
    d12 = lambda c: F.round(c, 12).cast("decimal(28,12)")  # noqa: E731
    diff2 = d12((F.col("ci") - F.col("cd")) * (F.col("ci") - F.col("cd")))
    # drop dims missing from either split: when a split is EMPTY (no delta
    # batch yet) the oracle's inner join emits zero dims — drift over
    # nothing is n_dims=0 + NULL metrics, not a 64-dim NULL comparison
    # (n=1 fixture sweep)
    cent = cent.filter(F.col("ci").isNotNull() & F.col("cd").isNotNull())
    return cent.agg(
        F.count("*").cast("bigint").alias("n_dims"),
        F.round(F.sqrt(F.sum(diff2)), 8).alias("l2_drift"),
        F.round(
            F.sum(d12(F.col("ci") * F.col("cd")))
            / (
                F.sqrt(F.sum(d12(F.col("ci") * F.col("ci"))))
                * F.sqrt(F.sum(d12(F.col("cd") * F.col("cd"))))
            ),
            8,
        ).alias("centroid_cosine"),
    )

# --------------------------------------------------------------------------
# LSH s-curve calibration (empirical vs theoretical candidate rate)
# --------------------------------------------------------------------------

_SC_ID_CAP = 400
#: theoretical banded-MinHash candidate probability 1-(1-s^r)^b at each
#: jaccard-decile midpoint, for the production r rows x b bands — injected
#: as the SAME Python double literals into both engines.
_SC_THEORY = tuple(
    1.0 - (1.0 - ((b + 0.5) / 10.0) ** (dd.LSH_K // dd.LSH_BANDS)) ** dd.LSH_BANDS
    for b in range(10)
)


def _anchor_pairs_sql(cols: str) -> str:
    """Oracle CTEs through ``scored``: every anchor-slice doc pair sharing
    a shingle, as ``inter i`` (ia < ib, ni shared shingles) joined to both
    set sizes ``sa``/``sb`` and both signatures ``x``/``y``.  ``scored``
    holds the exact Jaccard ``j`` plus the SELECT list ``cols``."""
    return f"""
    WITH sh_t AS (
      SELECT doc_id, LIST_DISTINCT({tx.ngrams_sql(tx.tokens_sql(), 3)}) AS sh FROM documents
      WHERE doc_id < {_SC_ID_CAP}),
    {dd.minhash_sql("sh_t")},
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh_t),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS ni
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) AS j, {cols}
      FROM inter i
      JOIN sz sa ON sa.doc_id = i.ia
      JOIN sz sb ON sb.doc_id = i.ib
      JOIN sigs x ON x.doc_id = i.ia
      JOIN sigs y ON y.doc_id = i.ib)"""


def _anchor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every anchor-slice doc pair (ia < ib) sharing a shingle: ``ni``
    shared shingles, set sizes ``na``/``nb`` and signature slots
    ``xa{i}``/``yb{i}`` — the frame both calibration queries score."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _SC_ID_CAP
    )
    sigs = dd.with_minhash(d, "doc_id", "text")
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(tx.shingles(tx.tokens("text"), n=3))).alias("s"),
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("ia"), "s")
    b = sh.select(F.col("doc_id").alias("ib"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("ni"))
    )
    sa = sz.select(F.col("doc_id").alias("ia"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("ib"), F.col("n").alias("nb"))
    x = sigs.select(
        F.col("doc_id").alias("ia"),
        *[F.col(f"h{i}").alias(f"xa{i}") for i in range(dd.LSH_K)],
    )
    y = sigs.select(
        F.col("doc_id").alias("ib"),
        *[F.col(f"h{i}").alias(f"yb{i}") for i in range(dd.LSH_K)],
    )
    return inter.join(sa, "ia").join(sb, "ib").join(x, "ia").join(y, "ib")


def _jaccard() -> F.Column:
    """Exact shingle Jaccard of an ``_anchor_pairs`` row, bit-identical to
    the oracle's ``j``."""
    return F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))


def _sc_oracle() -> str:
    # CAST('<repr>' AS DOUBLE): a bare float literal parses via DECIMAL in
    # DuckDB and double-rounds one ulp off the double Spark injects (the
    # wilson hazard class; fuzz seed 2 hit it on theory bucket values)
    theory_case = " ".join(
        f"WHEN {b} THEN CAST('{_SC_THEORY[b]!r}' AS DOUBLE)" for b in range(10)
    )
    return _anchor_pairs_sql(f"({dd.band_match_sql('x', 'y')}) AS cand") + f""",
    bucketed AS (
      SELECT LEAST(CAST(FLOOR(j * 10) AS INTEGER), 9) AS bucket, cand
      FROM scored)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE cand) AS BIGINT) AS n_candidates,
           CAST((COUNT(*) FILTER (WHERE cand)) * 1000000 // COUNT(*)
                AS DOUBLE) / 1000000.0 AS empirical_rate,
           CAST(CASE bucket {theory_case} END AS DOUBLE)
             AS theoretical_rate
    FROM bucketed GROUP BY bucket
    """


@query("lsh_s_curve_calibration", oracle=_sc_oracle())
def lsh_s_curve_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter calibration: for a bounded anchor slice, the
    EMPIRICAL candidate rate of the production 4-band x 2-row MinHash
    banding per exact-Jaccard decile, next to the THEORETICAL s-curve
    1-(1-s²)⁴ at each decile midpoint — the read that tells you whether
    the deployed (b, r) matches the dedup threshold before a corpus-wide
    run (pairs with ``lsh_recall_eval``'s single-threshold recall and
    ``semdedup_threshold_sweep``'s cosine analogue).

    Determinism: exact integer shingle intersections; jaccard is one
    double division (identical bits); bucketing floors that double the
    same way in both engines; the empirical rate is a floored fixed-point
    division; theory values are injected literals.

    Scale: the anchor's inverted-shingle equi-join bounds candidate
    generation (never docs²); signatures come from the verified
    `with_minhash` path.  In production the curve is computed on a
    sampled slice exactly like this one.
    """
    cand = reduce(
        operator.or_,
        [
            reduce(operator.and_, [F.col(f"xa{i}") == F.col(f"yb{i}") for i in slots])
            for slots in dd.band_slots()
        ],
    )
    j = _jaccard()
    scored = _anchor_pairs(spark, sf_dir).select(
        F.least(F.floor(j * 10).cast("int"), F.lit(9)).alias("bucket"),
        cand.alias("cand"),
    )
    theory = F.element_at(
        F.array(*[F.lit(v) for v in _SC_THEORY]), F.col("bucket") + 1
    )
    return (
        scored.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("cand"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_candidates"),
        )
        .select(
            "bucket",
            "n_pairs",
            "n_candidates",
            (
                F.expr(
                    "CAST((n_candidates * 1000000) div n_pairs AS BIGINT)"
                ).cast("double")
                / 1_000_000.0
            ).alias("empirical_rate"),
            theory.alias("theoretical_rate"),
        )
    )

# --------------------------------------------------------------------------
# MinHash Jaccard-estimator error profile
# --------------------------------------------------------------------------


def _mh_err_oracle() -> str:
    match_sum = " + ".join(
        f"CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END" for i in range(dd.LSH_K)
    )
    return _anchor_pairs_sql(f"({match_sum}) AS n_match") + f""",
    err AS (
      SELECT LEAST(CAST(FLOOR(j * 10) AS INTEGER), 9) AS bucket,
             CAST(ROUND(ABS(CAST(n_match AS DOUBLE) / {dd.LSH_K} - j), 9)
                  AS DECIMAL(18,9)) AS abs_err
      FROM scored)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(SUM(abs_err) * 1000000000 AS HUGEINT) // COUNT(*)
                AS DOUBLE) / 1000000000.0 AS mean_abs_err_floor9
    FROM err GROUP BY bucket
    """


@query("minhash_estimator_error", oracle=_mh_err_oracle())
def minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard-ESTIMATOR quality on the bounded anchor slice: per
    exact-Jaccard decile, the mean |matching-slots/8 − exact J| — the
    estimator-variance read (expected ≈ √(J(1−J)/8)) that tells you
    whether 8 slots is enough BEFORE trusting signature-level dedup
    decisions; the estimator-side complement of
    ``lsh_s_curve_calibration``'s banding-side read.

    Determinism: slot matches and intersections are exact integers; the
    per-pair error is one double expression rounded at 1e-9 then
    DECIMAL-summed; the bucket mean uses floored integer division of the
    exact decimal sum (scale-9 fixed point — no ROUND at a boundary).

    Scale: same anchor layout as the s-curve — inverted-shingle
    equi-join, signatures from the verified `with_minhash` path.
    """
    n_match = None
    for i in range(dd.LSH_K):
        t = F.when(F.col(f"xa{i}") == F.col(f"yb{i}"), 1).otherwise(0)
        n_match = t if n_match is None else n_match + t
    j = _jaccard()
    scored = _anchor_pairs(spark, sf_dir).select(
        F.least(F.floor(j * 10).cast("int"), F.lit(9)).alias("bucket"),
        F.round(F.abs(n_match.cast("double") / dd.LSH_K - j), 9)
        .cast("decimal(18,9)")
        .alias("abs_err"),
    )
    return (
        scored.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("abs_err").alias("_s"),
        )
        .select(
            "bucket",
            "n_pairs",
            # exact-nano fixed point: scale the decimal sum to integers,
            # floor-divide, then one power-of-ten double division
            (
                F.expr(
                    "CAST(CAST(_s * 1000000000 AS DECIMAL(38,0)) div n_pairs"
                    " AS BIGINT)"
                ).cast("double")
                / 1_000_000_000.0
            ).alias("mean_abs_err_floor9"),
        )
    )
