"""Semantic tests for plans/pq.py (product quantization: codebook train,
nibble-packed encode, ADC k-NN scan).

Value-level cross-engine equality is covered by tools/check_oracle.py (the
PQ family is fully oracle-backed — integer-exact by construction); these pin
the *semantics*: codebook shape and seed-derivation, code-range / packing
invariants, reconstruction-vs-assignment consistency, ADC's agreement with
the brute-force asymmetric distance, and determinism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lms_etl_pipeline_spark.plans.pq import (
    PQ_DSUB,
    PQ_K,
    PQ_M,
    _NQ,
    _TOPK,
    _argmin_code,
    _book_rows_to_arrays,
    _subvectors,
    _train_book,
    knn_pq_adc,
    pq_codebook_train,
    pq_encode_codes,
)
from lms_etl_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _unpack(code: int) -> list[int]:
    return [(code >> (4 * s)) & 0xF for s in range(PQ_M)]


def test_codebook_shape_and_ranges(spark):
    rows = pq_codebook_train(spark, SF_SMOKE).collect()
    # at most M*K*DSUB rows (empty clusters may drop), full dim coverage
    assert len(rows) <= PQ_M * PQ_K * PQ_DSUB
    assert {r.s for r in rows} == set(range(PQ_M))
    assert all(0 <= r.cid < PQ_K for r in rows)
    # every surviving (s, cid) centroid has all DSUB dims
    by_sc: dict[tuple[int, int], set[int]] = {}
    for r in rows:
        by_sc.setdefault((r.s, r.cid), set()).add(r.pos)
    for sc, poss in by_sc.items():
        assert poss == set(range(PQ_DSUB)), f"centroid {sc} missing dims"
    # refined centroids stay inside the micro-unit data envelope
    emb = load_table(spark, SF_SMOKE, "embeddings")
    lo, hi = emb.select(
        F.min(F.array_min("embedding")), F.max(F.array_max("embedding"))
    ).first()
    assert all(
        float(lo) * 1e6 - 1 <= r.cu <= float(hi) * 1e6 + 1 for r in rows
    ), "centroid mean outside data range"


def test_encode_packing_and_reconstruction_consistency(spark):
    enc = {r.vec_id: r for r in pq_encode_codes(spark, SF_SMOKE).collect()}
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(enc) == n, "every vector must be encoded"
    book = pq_codebook_train(spark, SF_SMOKE).collect()
    cents: dict[tuple[int, int], dict[int, int]] = {}
    for r in book:
        cents.setdefault((r.s, r.cid), {})[r.pos] = r.cu
    live = {sc[0]: set() for sc in cents}
    for s, cid in cents:
        live[s].add(cid)
    xs = {
        (r.vec_id, r.s): r.xv
        for r in _subvectors(
            load_table(spark, SF_SMOKE, "embeddings")
        ).collect()
    }
    for vid, row in list(enc.items())[:50]:
        codes = _unpack(row.pq_code)
        assert all(0 <= c < PQ_K for c in codes)
        # recon error == sum over subspaces of d2(x, chosen centroid),
        # and the chosen centroid is the argmin over the live codebook
        total = 0
        for s, c in enumerate(codes):
            assert c in live[s], f"code {c} not in live book for s={s}"
            xv = xs[(vid, s)]
            d2 = {
                cid: sum(
                    (xv[p] - cents[(s, cid)][p]) ** 2 for p in range(PQ_DSUB)
                )
                for cid in live[s]
            }
            best = min(d2.items(), key=lambda kv: (kv[1], kv[0]))
            assert (d2[c], c) == (best[1], best[0]), "not the argmin code"
            total += d2[c]
        assert total == row.recon_d2_u


def test_adc_matches_bruteforce_asymmetric_distance(spark):
    out = knn_pq_adc(spark, SF_SMOKE).collect()
    assert {r.query_id for r in out} == set(range(_NQ))
    book = pq_codebook_train(spark, SF_SMOKE).collect()
    cents: dict[tuple[int, int], dict[int, int]] = {}
    for r in book:
        cents.setdefault((r.s, r.cid), {})[r.pos] = r.cu
    xs = {
        (r.vec_id, r.s): r.xv
        for r in _subvectors(
            load_table(spark, SF_SMOKE, "embeddings")
        ).collect()
    }
    enc = {r.vec_id: _unpack(r.pq_code) for r in pq_encode_codes(spark, SF_SMOKE).collect()}
    # per query: ranks dense 1.._TOPK, distances nondecreasing, self excluded,
    # and each emitted adc equals the brute-force LUT-free recomputation
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= _TOPK
        assert all(r.vec_id != qid for r in rows)
        dists = [r.adc_d2_u for r in rows]
        assert dists == sorted(dists)
        for r in rows:
            expect = 0
            for s, c in enumerate(enc[r.vec_id]):
                qv = xs[(qid, s)]
                expect += sum(
                    (qv[p] - cents[(s, c)][p]) ** 2 for p in range(PQ_DSUB)
                )
            assert expect == r.adc_d2_u
        # top-1 by ADC over ALL candidates really is rank 1
        all_d = []
        for vid, codes in enc.items():
            if vid == qid:
                continue
            d = 0
            for s, c in enumerate(codes):
                qv = xs[(qid, s)]
                d += sum((qv[p] - cents[(s, c)][p]) ** 2 for p in range(PQ_DSUB))
            all_d.append((d, vid))
        assert min(all_d) == (rows[0].adc_d2_u, rows[0].vec_id)


def test_determinism_rerun_identical(spark):
    a = {(r.vec_id, r.pq_code, r.recon_d2_u) for r in pq_encode_codes(spark, SF_SMOKE).collect()}
    b = {(r.vec_id, r.pq_code, r.recon_d2_u) for r in pq_encode_codes(spark, SF_SMOKE).collect()}
    assert a == b


def test_encode_is_shuffle_light_and_broadcasts_book(spark):
    """The encode plan must broadcast the codebook side (never shuffle the
    corpus against it) — the 100 TB contract from the module docstring."""
    plan = pq_encode_codes(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan, "corpus-vs-book join must not SMJ"


def test_pq_recall_eval_pinned_baseline(spark):
    """Recall@3 of the ADC scan vs the exact integer-L2 top-3, measured
    exactly on the smoke fixture and pinned as integers (the
    test_recall_floors discipline): random near-orthogonal synthetic
    embeddings are PQ's worst case, so this is the tuning measurement —
    any edit to M/K/seeding/refinement moves these totals and fails here."""
    from lms_etl_pipeline_spark.plans.pq import pq_recall_eval

    rows = pq_recall_eval(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    assert all(r.n_true == 3 for r in rows)
    assert sum(r.n_found for r in rows) == 13
    for r in rows:
        assert abs(r.recall - r.n_found / r.n_true) < 1e-12


def _write_embeddings(spark, out_dir, vecs):
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def test_nibble_pack_saturates_at_max_code(spark, tmp_path):
    """Fuzz-aimed edge: a corpus of exactly
    the K well-separated seed vectors makes every Lloyd cluster a
    singleton, so vector i encodes to code i in EVERY subspace — vector
    15 exercises the 0xF nibble in all 8 positions (pq_code 0xFFFFFFFF,
    the max packed value; shifts stay < 2^32 so the BIGINT can't go
    negative) and reconstruction error is exactly 0 for every vector."""
    from lms_etl_pipeline_spark.plans.llm import EMB_DIM

    vecs = [[(i + 1) / 100.0] * EMB_DIM for i in range(PQ_K)]
    _write_embeddings(spark, str(tmp_path), vecs)
    got = {
        r["vec_id"]: (r["pq_code"], r["recon_d2_u"])
        for r in pq_encode_codes(spark, str(tmp_path)).collect()
    }
    assert len(got) == PQ_K
    for i in range(PQ_K):
        code, err = got[i]
        assert _unpack(code) == [i] * PQ_M
        assert err == 0
        assert code >= 0
    assert got[PQ_K - 1][0] == 0xFFFFFFFF


def test_zero_norm_subvector_ties_to_lowest_cid(spark, tmp_path):
    """Zero-norm subvectors (the fuzz generator's all-zero embedding) tie
    on distance whenever two centroids share a norm; the struct-ordering
    argmin must break the tie toward the LOWEST cid — pinned by an
    independent pure-Python replay over the trained book."""
    from lms_etl_pipeline_spark.plans.llm import EMB_DIM

    # seeds: +v and -v pairs share ||c||^2, so the zero vector ties
    # exactly across each pair; vec 16 is the all-zero probe
    vecs = [
        [((-1) ** i) * ((i // 2) + 1) / 50.0] * EMB_DIM for i in range(PQ_K)
    ] + [[0.0] * EMB_DIM]
    _write_embeddings(spark, str(tmp_path), vecs)
    book = [
        (r["s"], r["cid"], r["pos"], r["cu"])
        for r in pq_codebook_train(spark, str(tmp_path)).collect()
    ]
    # pure-Python argmin for the zero subvector: min (sum cu^2, cid)
    cents: dict[tuple[int, int], list[int]] = {}
    for s, cid, pos, cu in book:
        cents.setdefault((s, cid), [0] * PQ_DSUB)[pos] = cu
    expect = {}
    for s in range(PQ_M):
        d2 = {
            cid: sum(c * c for c in cu)
            for (ss, cid), cu in cents.items()
            if ss == s
        }
        expect[s] = min(d2, key=lambda cid: (d2[cid], cid))
    code = {
        r["vec_id"]: r["pq_code"]
        for r in pq_encode_codes(spark, str(tmp_path)).collect()
    }[PQ_K]
    assert _unpack(code) == [expect[s] for s in range(PQ_M)]
    # determinism: an identical re-run packs the identical code
    rerun = {
        r["vec_id"]: r["pq_code"]
        for r in pq_encode_codes(spark, str(tmp_path)).collect()
    }[PQ_K]
    assert rerun == code
