"""Diverse subset selection — Maximal Marginal Relevance (MMR), integer-exact.

MMR (Carbonell & Goldstein, SIGIR 1998) is the classic greedy
diversity/relevance trade-off: having selected S, the next pick maximizes
``λ·rel(x) − (1−λ)·max_{y∈S} sim(x, y)``.  Training-data pipelines run
exactly this shape to pick diverse exemplars (prompt selection, eval-set
construction, coreset seeding for annotation) — relevance keeps the
subset on-topic, the max-similarity penalty stops near-duplicates from
all being picked (the failure mode of plain top-k, which the dedup
family only partially covers because near-dups below its threshold still
crowd a top-k list).

Exactness: embeddings quantize ONCE to int64 micro-units (the seed-37
float32→double→round discipline shared with ``plans/pq.py``); relevance
and pairwise similarity are integer dot products (MIPS-flavored, like
``knn_dot_product_mips``); λ = 1/2 makes the working score
``2·score = rel_u − maxsim_u`` — pure int64, no division at all.  Ties
break by ascending vec_id.  Int64 headroom: |x| ≤ 1 fixtures ⇒ |dot| ≤
64·10¹² ≈ 6.4e13; the documented precondition is |x| ≤ ~100 (|dot| ≤
6.4e17 < 2⁶³).

Algorithm shape (the ``quality_classifier_train`` loop discipline):
K = {_MMR_K} greedy rounds; each round is ONE linear pass over the
corpus — candidates join a ≤K-row broadcast of the already-selected
vectors, take max-dot, and a global top-1 (TakeOrderedAndProject, no
full sort) returns ONE row to the driver.  The micro-unit corpus and the
relevance column are computed once and rescanned; selected ids re-enter
each round's plan as literals.  At 100 TB: K data-independent scans,
nothing corpus-sized ever collects, the selected set is K rows.

Oracle: a generated K-round CTE chain (argmax via ORDER BY … LIMIT 1,
MATERIALIZED at each reuse point), the ``bpe_train_merges_deep`` pattern.

The first pick has an empty selected set: ``maxsim_u`` is defined as 0 there
(the penalty over an empty set), so `score2_u = rel_u` — identical
convention in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.llm import EMB_DIM
from lms_etl_pipeline_spark.session import local_frame, materialize, release
from lms_etl_pipeline_spark.sources.tables import load_table

#: greedy selection rounds (= subset size); data-independent
_MMR_K = 8
#: the relevance anchor: similarity to the first vector's embedding
_QUERY_VEC_ID = 0
_U = 1_000_000

_DOT_SQL = (
    "CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, {d} + 1), "
    "i -> {a}[i] * {b}[i])) AS BIGINT)"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(d=EMB_DIM, a=a, b=b)


def _round_sql(k: int) -> str:
    """Round k ≥ 2: max-sim to selected, argmax of rel−maxsim, grow sel."""
    return f""",
    sim{k} AS (
      SELECT x.vec_id, MAX({_dot_sql("x.xv", "y.xv")}) AS maxsim_u
      FROM xu x, sel{k - 1} s JOIN xu y ON y.vec_id = s.vec_id
      WHERE x.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
      GROUP BY x.vec_id),
    pick{k} AS MATERIALIZED (
      SELECT r.vec_id, r.rel_u, m.maxsim_u,
             r.rel_u - m.maxsim_u AS score2_u
      FROM sim{k} m JOIN rel r USING (vec_id)
      ORDER BY score2_u DESC, vec_id LIMIT 1),
    sel{k} AS MATERIALIZED (
      SELECT vec_id FROM sel{k - 1} UNION ALL SELECT vec_id FROM pick{k})"""


_MMR_ORACLE = (
    f"""
    WITH xu AS MATERIALIZED (
      SELECT vec_id,
             LIST_TRANSFORM(embedding,
                            v -> CAST(ROUND(CAST(v AS DOUBLE) * {_U})
                                 AS BIGINT)) AS xv
      FROM embeddings),
    q AS (SELECT xv AS qv FROM xu WHERE vec_id = {_QUERY_VEC_ID}),
    rel AS MATERIALIZED (
      SELECT x.vec_id, {_dot_sql("x.xv", "q.qv")} AS rel_u
      FROM xu x CROSS JOIN q),
    pick1 AS MATERIALIZED (
      SELECT vec_id, rel_u, CAST(0 AS BIGINT) AS maxsim_u,
             rel_u AS score2_u
      FROM rel ORDER BY rel_u DESC, vec_id LIMIT 1),
    sel1 AS MATERIALIZED (SELECT vec_id FROM pick1)"""
    + "".join(_round_sql(k) for k in range(2, _MMR_K + 1))
    + "".join(
        f"""
    {"SELECT" if k == 1 else "UNION ALL SELECT"} {k} AS round, vec_id,
           rel_u, maxsim_u, score2_u
    FROM pick{k}"""
        for k in range(1, _MMR_K + 1)
    )
)


def _xu_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * F.lit(float(_U))).cast("bigint"),
        ).alias("xv"),
    )


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + p,
    )


@query("mmr_diverse_selection", oracle=_MMR_ORACLE)
def mmr_diverse_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR subset of K={_MMR_K} vectors (λ=1/2, integer-exact —
    module docstring): per round, candidates take their max integer dot
    product against the ≤K-row broadcast of already-selected vectors and
    the best ``rel_u − maxsim_u`` wins (ties → lowest vec_id).  Output:
    one row per round — the pick, its relevance, its max similarity to
    the prior picks, and the doubled MMR score, all BIGINT.
    """
    # The greedy loop is INCREMENTAL.  The old form recomputed every
    # candidate's dot products against ALL prior picks each round
    # (Σ(r−1)·n = O(K²n) interpreted dots) and paid a corpus-keyed
    # groupBy shuffle + a rel join per round.  MMR's max is associative:
    # maxsim_r(v) = max(maxsim_{r−1}(v), ⟨v, pick_{r−1}⟩) — so the state
    # frame (vec_id, xv, rel_u, maxsim_u) updates against ONLY the newest
    # pick (its 64 micro-unit components re-enter as literals, the
    # GD-trainer discipline), one map-only pass + TakeOrdered per round:
    # O(Kn) dots, ZERO per-round shuffles.  The max runs over the same
    # set, so every emitted value is unchanged (oracle re-verified);
    # per-round plans were already literal-bearing (isin(sel_ids)), so
    # codegen cost per round is unchanged too.
    xu = materialize(_xu_frame(spark, sf_dir))
    qv = xu.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("xv").alias("qv")
    )
    # maxsim over the EMPTY selected set starts at a sentinel minimum
    # (−2^62 — dots are bounded |·| ≤ d·U² ≈ 6.4e13, far above it), NOT 0:
    # dot products can be negative, and flooring at 0 would overstate the
    # penalty for anti-correlated candidates.  The first pick emits the
    # conventional (maxsim=0, score2=rel) pair explicitly, as before.
    state = materialize(
        xu.crossJoin(F.broadcast(qv)).select(
            "vec_id",
            "xv",
            _dot(F.col("xv"), F.col("qv")).alias("rel_u"),
            F.lit(-(1 << 62)).cast("bigint").alias("maxsim_u"),
        )
    )
    release(xu)
    history: list[tuple[int, int, int, int, int]] = []
    sel_ids: list[int] = []
    last_xv: list[int] | None = None
    for rnd in range(1, _MMR_K + 1):
        if rnd > 1:
            yv = F.array(*[F.lit(int(v)) for v in last_xv])
            upd = state.select(
                "vec_id",
                "xv",
                "rel_u",
                F.greatest("maxsim_u", _dot(F.col("xv"), yv)).alias("maxsim_u"),
            )
            # the TakeOrdered collect below is the materializing action
            # (eager=False): one job per round, no separate populate pass
            new_state = materialize(upd, eager=False, cut_lineage=True)
        else:
            new_state = state
        cand = (
            new_state.filter(~F.col("vec_id").isin(sel_ids))
            if sel_ids
            else new_state
        )
        order_col = "rel_u" if rnd == 1 else "score2_u"
        rows = (
            cand.select(
                "vec_id",
                "rel_u",
                "maxsim_u",
                (F.col("rel_u") - F.col("maxsim_u")).alias("score2_u"),
                "xv",
            )
            .orderBy(F.desc(order_col), "vec_id")
            .limit(1)
            .collect()  # bounded: ONE row (with its 64-component vector)
        )
        if new_state is not state:
            release(state)
            state = new_state
        if not rows:
            break  # empty corpus / candidates exhausted (n <= K)
        r = rows[0]
        pick = (
            (1, r["vec_id"], r["rel_u"], 0, r["rel_u"])
            if rnd == 1
            else (rnd, r["vec_id"], r["rel_u"], r["maxsim_u"], r["score2_u"])
        )
        history.append(pick)  # bounded: ONE row per round, K rounds
        sel_ids.append(pick[1])
        last_xv = list(r["xv"])
    release(state)
    return local_frame(
        spark,
        history,
        "round int, vec_id bigint, rel_u bigint, maxsim_u bigint, "
        "score2_u bigint",
    )
