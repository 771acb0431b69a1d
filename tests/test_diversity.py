"""Semantic tests for plans/diversity.py (MMR diverse selection).

Value-level cross-engine equality is covered by tools/check_oracle.py;
these pin the greedy-MMR semantics: picks are distinct, the first pick is
the pure-relevance argmax, every later pick maximizes rel−maxsim over the
remaining candidates (verified against a local brute-force replay), and
the penalty really suppresses near-duplicates of already-picked vectors.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lms_etl_pipeline_spark.plans.diversity import (
    _MMR_K,
    _QUERY_VEC_ID,
    mmr_diverse_selection,
)
from lms_etl_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _load_micro(spark):
    # quantize with the SAME Spark expression the plan uses, so the local
    # replay can never diverge on a rounding knife edge
    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda v: F.round(v.cast("double") * F.lit(1e6)).cast("bigint"),
            ).alias("xv"),
        )
        .collect()
    )
    return {r.vec_id: list(r.xv) for r in rows}


def _dot(a: list[int], b: list[int]) -> int:
    return sum(x * y for x, y in zip(a, b))


def test_mmr_matches_bruteforce_greedy_replay(spark):
    out = sorted(mmr_diverse_selection(spark, SF_SMOKE).collect(), key=lambda r: r.round)
    xs = _load_micro(spark)
    q = xs[_QUERY_VEC_ID]
    rel = {vid: _dot(v, q) for vid, v in xs.items()}
    sel: list[int] = []
    for r in out:
        assert r.round == len(sel) + 1
        if not sel:
            best = min(((-rel[v], v) for v in xs), key=tuple)
            assert (r.vec_id, r.rel_u) == (best[1], -best[0])
            assert r.maxsim_u == 0 and r.score2_u == r.rel_u
        else:
            cands = {
                v: rel[v] - max(_dot(xs[v], xs[s]) for s in sel)
                for v in xs
                if v not in sel
            }
            best = min(((-s, v) for v, s in cands.items()), key=tuple)
            assert (r.vec_id, r.score2_u) == (best[1], -best[0])
            assert r.maxsim_u == max(_dot(xs[r.vec_id], xs[s]) for s in sel)
            assert r.score2_u == r.rel_u - r.maxsim_u
        sel.append(r.vec_id)
    assert len(out) == min(_MMR_K, len(xs))
    assert len(set(sel)) == len(sel), "picks must be distinct"


def test_mmr_penalty_binds_vs_pure_topk(spark):
    """The diversity penalty must actually bind on this fixture: the MMR
    subset differs from pure top-K relevance (which near-duplicate-rich
    corpora collapse onto) — if they coincide, λ did nothing and the op
    is indistinguishable from sort_topk."""
    out = mmr_diverse_selection(spark, SF_SMOKE).collect()
    xs = _load_micro(spark)
    q = xs[_QUERY_VEC_ID]
    topk = sorted(xs, key=lambda v: (-_dot(xs[v], q), v))[: len(out)]
    assert {r.vec_id for r in out} != set(topk)


def test_mmr_deterministic(spark):
    a = [(r.round, r.vec_id) for r in mmr_diverse_selection(spark, SF_SMOKE).collect()]
    b = [(r.round, r.vec_id) for r in mmr_diverse_selection(spark, SF_SMOKE).collect()]
    assert sorted(a) == sorted(b)


def test_mmr_no_unbounded_collect(spark):
    """The plan's only collects are the K bounded 1-row argmax fetches —
    the output itself is a K-row local frame, never corpus-sized."""
    out = mmr_diverse_selection(spark, SF_SMOKE)
    assert out.count() <= _MMR_K


def _write_embeddings(spark, out_dir, vecs):
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def test_mmr_k_boundary_exhausts_exactly(spark, tmp_path):
    """Fuzz-aimed edge: with exactly K vectors
    the greedy loop must consume every candidate (K rounds, no round
    starves), and with n < K it must stop early at n rows instead of
    erroring on an empty candidate frame."""
    from lms_etl_pipeline_spark.plans.llm import EMB_DIM

    vecs = [[(i + 1) / 10.0] * EMB_DIM for i in range(_MMR_K)]
    _write_embeddings(spark, str(tmp_path / "eq"), vecs)
    out = mmr_diverse_selection(spark, str(tmp_path / "eq")).collect()
    assert len(out) == _MMR_K
    assert sorted(r.vec_id for r in out) == list(range(_MMR_K))

    _write_embeddings(spark, str(tmp_path / "lt"), vecs[:3])
    short = mmr_diverse_selection(spark, str(tmp_path / "lt")).collect()
    assert len(short) == 3
    assert sorted(r.vec_id for r in short) == [0, 1, 2]


def test_mmr_all_ties_pick_ascending_vec_id(spark, tmp_path):
    """An all-identical corpus ties every round on BOTH relevance and the
    MMR score; the documented tiebreak (lowest vec_id) must make the pick
    sequence exactly 0,1,2,... — any nondeterminism in the argmax surfaces
    here as a scrambled order."""
    from lms_etl_pipeline_spark.plans.llm import EMB_DIM

    vecs = [[0.25] * EMB_DIM for _ in range(_MMR_K)]
    _write_embeddings(spark, str(tmp_path), vecs)
    out = sorted(mmr_diverse_selection(spark, str(tmp_path)).collect(), key=lambda r: r.round)
    assert [r.vec_id for r in out] == list(range(_MMR_K))
    # rel is identical for every pick; from the second pick on maxsim == rel (the
    # remaining candidates are duplicates of a selected vector)
    rels = {r.rel_u for r in out}
    assert len(rels) == 1
    assert all(r.maxsim_u == r.rel_u for r in out if r.round > 1)
