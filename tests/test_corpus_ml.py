"""Semantic tests for plans/corpus_ml.py (shuffle, BM25, SemDeDup, k-means,
PageRank).

Value-level cross-engine equality is covered by tools/check_oracle.py; these
pin the *semantics* each op promises (invariants that would survive an oracle
that was wrong in the same way as the engine).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from lms_etl_pipeline_spark.plans.corpus_ml import _BM25_QUERIES, _BM25_TOPK, _KMEANS_K, _N_SHARDS, _SEMDEDUP_TAU, bm25_retrieval_topk, corpus_shuffle_deterministic, kmeans_lloyd, pagerank_graph, semdedup_embedding
from lms_etl_pipeline_spark.operators import vectors as vec
from lms_etl_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_shuffle_is_a_permutation_and_deterministic(spark):
    out = corpus_shuffle_deterministic(spark, SF_SMOKE)
    rows = out.collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert len(rows) == n_docs, "shuffle must be a permutation (no loss/dup)"
    assert len({r.doc_id for r in rows}) == n_docs
    # positions within each shard are 1..len(shard) (dense, gap-free)
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard < _N_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), f"shard {shard} gaps"
    # re-running produces the identical assignment (no rand() anywhere)
    again = {(r.doc_id, r.shard, r.pos) for r in corpus_shuffle_deterministic(spark, SF_SMOKE).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}


def test_bm25_ranks_are_dense_and_scores_monotone(spark):
    rows = bm25_retrieval_topk(spark, SF_SMOKE).collect()
    assert rows
    qids = {r.qid for r in rows}
    assert qids == {qid for qid, _ in _BM25_QUERIES}
    for qid in qids:
        qr = sorted((r for r in rows if r.qid == qid), key=lambda r: r.rk)
        assert [r.rk for r in qr] == list(range(1, len(qr) + 1))
        assert len(qr) <= _BM25_TOPK
        # scores non-increasing in rank, all positive (idf > 0 when df < N)
        scores = [r.score for r in qr]
        assert all(a >= b for a, b in zip(scores, scores[1:]))
        assert all(s > 0 for s in scores)


def test_bm25_top_doc_actually_contains_a_query_term(spark):
    rows = bm25_retrieval_topk(spark, SF_SMOKE).collect()
    d = {r.doc_id: r.text for r in load_table(spark, SF_SMOKE, "documents").collect()}
    terms = {qid: set(ts) for qid, ts in _BM25_QUERIES}
    for r in rows:
        toks = set(d[r.doc_id].split())
        assert toks & terms[r.qid], "scored doc contains no query term"


def test_semdedup_survivors_are_pairwise_below_tau(spark):
    kept = semdedup_embedding(spark, SF_SMOKE)
    e = load_table(spark, SF_SMOKE, "embeddings")
    total = e.count()
    n_kept = kept.count()
    assert 0 < n_kept <= total
    # no surviving pair within a label may exceed tau (check via one join)
    ke = kept.join(e, ["vec_id", "label"]).select("vec_id", "label", "embedding")
    b = ke.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"),
    )
    viol = ke.join(
        b,
        (F.col("label") == F.col("b_label"))
        & (F.col("b_id") < F.col("vec_id"))
        & (vec.cosine(F.col("embedding"), F.col("b_emb")) > _SEMDEDUP_TAU),
        "inner",
    ).count()
    assert viol == 0, "semdedup kept a pair above tau"
    # lowest vec_id of every label always survives (nothing earlier to hit)
    first = {
        r.vec_id
        for r in e.groupBy("label").agg(F.min("vec_id").alias("vec_id")).collect()
    }
    kept_ids = {r.vec_id for r in kept.collect()}
    assert first <= kept_ids


def test_kmeans_assigns_every_vector_to_nearest_final_centroid(spark):
    out = kmeans_lloyd(spark, SF_SMOKE)
    rows = out.collect()
    e = load_table(spark, SF_SMOKE, "embeddings")
    assert len(rows) == e.count(), "every vector gets exactly one cluster"
    clusters = {r.cluster for r in rows}
    assert clusters <= set(range(_KMEANS_K))
    assert len(clusters) > 1, "degenerate single-cluster solution"
    assert all(r.dist >= 0 for r in rows)
    # seed vectors must sit in (at least plausibly) their own neighborhoods:
    # distances are the unrounded bit-identical squared-L2 fold, finite
    assert all(not math.isnan(r.dist) for r in rows)


def test_pagerank_conserves_and_orders_mass(spark):
    rows = pagerank_graph(spark, SF_SMOKE).collect()
    assert rows
    prs = [r.pagerank for r in rows]
    assert all(p > 0 for p in prs), "every node keeps the teleport floor"
    n = len(prs)
    # with dangling sinks (suppliers) mass leaks, so total <= 1 but must
    # stay well above the teleport-only floor (0.15)
    total = sum(prs)
    assert 0.15 < total <= 1.0 + 1e-6
    # suppliers (in-degree > 0, many customers point at them) must out-rank
    # the uniform floor; customers (no in-edges) sit exactly on the floor
    cust = [r.pagerank for r in rows if r.node.startswith("c")]
    supp = [r.pagerank for r in rows if r.node.startswith("s")]
    assert supp and cust
    assert max(supp) > max(cust), "sinks with in-links must gain rank"
    floor = min(prs)
    assert all(abs(c - floor) < 1e-9 for c in cust), (
        "source-only nodes must all sit on the teleport floor"
    )


def test_rrf_fuses_both_lists_and_ranks_densely(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml import _RRF_K, _RRF_QIDS, _RRF_TOPK, hybrid_retrieval_rrf

    rows = hybrid_retrieval_rrf(spark, SF_SMOKE).collect()
    assert rows
    assert {r.qid for r in rows} <= set(range(_RRF_QIDS))
    for qid in {r.qid for r in rows}:
        qr = sorted((r for r in rows if r.qid == qid), key=lambda r: r.fused_rank)
        assert [r.fused_rank for r in qr] == list(range(1, len(qr) + 1))
        assert len(qr) <= _RRF_TOPK
        scores = [r.rrf for r in qr]
        assert all(a >= b for a, b in zip(scores, scores[1:]))
    # max possible score = rank-1 in both lists; never exceeded
    assert all(r.rrf <= 2.0 / (_RRF_K + 1) + 1e-12 for r in rows)
    # a doc ranked #1 in both lists would dominate; every score positive
    assert all(r.rrf > 0 for r in rows)


def test_pmi_pairs_come_from_real_windows(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml import _PMI_TOPK, _PMI_WINDOW, cooccurrence_pmi

    rows = cooccurrence_pmi(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= _PMI_TOPK
    assert all(r.w1 <= r.w2 for r in rows), "pairs must be canonically ordered"
    assert all(r.n_ab > 0 for r in rows)
    # spot-check: the top pair must actually co-occur within the window in
    # at least one document
    top = rows[0] if rows else None
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    found = False
    for d in docs:
        toks = d.text.split()
        for i, t in enumerate(toks):
            for off in range(1, _PMI_WINDOW + 1):
                if i + off < len(toks):
                    a, b = sorted((t, toks[i + off]))
                    if (a, b) == (top.w1, top.w2):
                        found = True
                        break
            if found:
                break
        if found:
            break
    assert found, "top PMI pair never co-occurs in any window"


def test_incremental_dedup_admits_only_novel_batch_docs(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml import _BATCH_MOD, incremental_corpus_dedup
    from lms_etl_pipeline_spark.operators import text as tx

    kept = incremental_corpus_dedup(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    batch_ids = {
        r.doc_id for r in d.filter(F.col("doc_id") % 10 == _BATCH_MOD).collect()
    }
    kept_ids = {r.doc_id for r in kept}
    assert kept_ids <= batch_ids, "only batch docs may be admitted"
    assert kept_ids, "a non-trivial share of the batch must be novel"
    # no admitted doc may share a canonical fingerprint with the index
    fps = d.select(
        "doc_id", tx.fingerprint("text").alias("fp")
    ).collect()
    index_fps = {r.fp for r in fps if r.doc_id % 10 != _BATCH_MOD}
    batch_fp = {r.doc_id: r.fp for r in fps if r.doc_id % 10 == _BATCH_MOD}
    for did in kept_ids:
        assert batch_fp[did] not in index_fps, f"doc {did} exact-dups the index"


def test_k_anonymity_classes_partition_the_corpus(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml import _K_ANON, k_anonymity_profile

    rows = k_anonymity_profile(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n for r in rows) == d.count(), "classes must partition"
    for r in rows:
        assert r.at_risk == (r.n < _K_ANON)


def test_kmeans_assign_on_separated_literal_clusters(spark):
    """kmeans_assign must put points with their obvious centroid: two well-
    separated 1-hot-ish clusters in 4-d, literal data, no oracle involved."""
    from lms_etl_pipeline_spark.operators.ml import kmeans_assign

    pts = spark.createDataFrame(
        [
            (0, [10.0, 10.0, 0.0, 0.0]),
            (1, [11.0, 9.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 10.0, 10.0]),
            (3, [0.0, 0.0, 9.0, 11.0]),
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cent = spark.createDataFrame(
        [(100, [10.0, 10.0, 0.0, 0.0]), (200, [0.0, 0.0, 10.0, 10.0])],
        "cid LONG, cvec ARRAY<DOUBLE>",
    )
    got = {
        r.vec_id: r.cluster
        for r in kmeans_assign(pts, cent, "vec_id", "embedding").collect()
    }
    assert got == {0: 100, 1: 100, 2: 200, 3: 200}


def test_rrf_math_on_literal_ranks():
    """RRF arithmetic: a doc ranked 1 in both lists must outscore a doc
    ranked 1 in only one list; the formula is 1/(60+r) summed."""
    k = 60
    both_first = 1 / (k + 1) + 1 / (k + 1)
    single_first = 1 / (k + 1)
    second_and_third = 1 / (k + 2) + 1 / (k + 3)
    assert both_first > second_and_third > single_first


def test_pagerank_two_node_chain_analytic(spark, tmp_path):
    """PageRank on a literal 2-node graph vs the closed-form value.

    Graph: c1 -> s1 (one edge). N=2, d=0.85, 3 iterations, no dangling
    redistribution: pr(c1) stays at the teleport floor 0.075; pr(s1) =
    0.075 + 0.85 * pr(c1) = 0.075 + 0.85*0.075 after any iteration >= 1
    once pr(c1) has settled: iter1 uses pr0=0.5 -> s1 = 0.075+0.425;
    iter2+ use pr(c1)=0.075 -> s1 = 0.13875.
    """
    import lms_etl_pipeline_spark.plans.corpus_ml as cm

    o = spark.createDataFrame(
        [(1, 11)], "o_orderkey LONG, o_custkey LONG"
    )
    li = spark.createDataFrame([(1, 21)], "l_orderkey LONG, l_suppkey LONG")
    # run the same plan body against literal frames via monkeypatched loader
    orig = cm.load_table
    try:
        cm.load_table = lambda spark_, sf_dir_, name: {"orders": o, "lineitem": li}[name]
        rows = {r.node: r.pagerank for r in cm.pagerank_graph(spark, "ignored").collect()}
    finally:
        cm.load_table = orig
    assert abs(rows["c11"] - 0.075) < 1e-9
    assert abs(rows["s21"] - (0.075 + 0.85 * 0.075)) < 1e-9


def test_int8_quantize_codes_bounded_and_error_within_half_scale(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml import embedding_int8_quantize

    rows = embedding_int8_quantize(spark, SF_SMOKE).collect()
    e = load_table(spark, SF_SMOKE, "embeddings")
    assert len(rows) == e.count()
    for r in rows:
        assert r.max_code <= 127, "symmetric int8 codes must fit"
        assert r.scale > 0
        # round-to-nearest guarantees |err| <= scale/2 (+ rounding slack)
        assert r.max_abs_err <= r.scale / 2 + 1e-9


def test_ann_recall_bounds_and_bucket_consistency(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml_eval import _ANN_K, _ANN_QIDS, ann_recall_eval

    rows = ann_recall_eval(spark, SF_SMOKE).collect()
    assert rows and len(rows) <= _ANN_QIDS
    for r in rows:
        assert 1 <= r.n_true <= _ANN_K
        assert 0 <= r.n_found <= r.n_true
        assert abs(r.recall - r.n_found / r.n_true) < 1e-12
    # LSH recall over 8 hyperplanes should find SOMETHING across 20 queries
    assert sum(r.n_found for r in rows) > 0


def test_datasheet_partitions_and_shares_sum_to_one(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml_eval import corpus_datasheet

    rows = corpus_datasheet(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.min_tokens <= r.max_tokens
        assert 0 <= r.n_delta_docs <= r.n_docs


def test_weighted_sample_prefers_heavier_docs_in_aggregate(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml_eval import _WS_K, weighted_sample_es

    rows = weighted_sample_es(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    langs = {r.lang for r in d.select("lang").distinct().collect()}
    assert {r.lang for r in rows} == langs
    for lang in langs:
        lr = sorted((r for r in rows if r.lang == lang), key=lambda r: r.rk)
        assert [r.rk for r in lr] == list(range(1, len(lr) + 1))
        assert len(lr) <= _WS_K
    # weight-proportional in aggregate: mean n_chars of the sample should
    # exceed the corpus mean (heavier docs get smaller keys on average)
    corpus_mean = d.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean * 0.9, (sample_mean, corpus_mean)
    # deterministic: re-run is identical
    again = {(r.lang, r.doc_id, r.rk) for r in weighted_sample_es(spark, SF_SMOKE).collect()}
    assert again == {(r.lang, r.doc_id, r.rk) for r in rows}


def test_countmin_estimates_upper_bound_truth(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml_eval import _CMS_TOPK, countmin_heavy_hitters

    rows = countmin_heavy_hitters(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= _CMS_TOPK
    for r in rows:
        assert r.est_n >= r.true_n, "CMS can only over-count"
        assert r.true_n > 0


def test_semdedup_kmeans_survivors_below_tau_within_learned_clusters(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml import _SEMDEDUP_TAU, kmeans_lloyd
    from lms_etl_pipeline_spark.plans.corpus_ml_eval import semdedup_kmeans

    kept = semdedup_kmeans(spark, SF_SMOKE).collect()
    assert kept
    assign = {r.vec_id: r.cluster for r in kmeans_lloyd(spark, SF_SMOKE).collect()}
    # survivors carry their learned cluster, and the min-id of every
    # learned cluster always survives
    for r in kept:
        assert assign[r.vec_id] == r.cluster
    by_cluster = {}
    for vid, c in assign.items():
        by_cluster.setdefault(c, []).append(vid)
    kept_ids = {r.vec_id for r in kept}
    for c, ids in by_cluster.items():
        assert min(ids) in kept_ids


def test_psi_report_bins_partition_and_terms_are_finite(spark):
    import math

    from lms_etl_pipeline_spark.plans.corpus_ml_eval import _PSI_BINS, psi_drift_report

    rows = psi_drift_report(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.d_n + r.i_n for r in rows) == d.count()
    assert {r.bin for r in rows} <= set(range(_PSI_BINS))
    for r in rows:
        assert math.isfinite(r.psi_term), "smoothing must prevent ln(0)"
    # the delta is a uniform 1-in-10 slice, so drift must be small
    assert sum(r.psi_term for r in rows) < 0.25


def test_lang_confusion_rows_sum_to_corpus_and_fracs_to_one(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml_eval import lang_id_confusion

    rows = lang_id_confusion(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n for r in rows) == d.count()
    by_true = {}
    for r in rows:
        by_true.setdefault(r.true_lang, []).append(r.row_frac)
    for lang, fracs in by_true.items():
        assert abs(sum(fracs) - 1.0) < 1e-4, lang


def test_token_budget_selection_respects_budget_and_is_prefix_closed(spark):
    from lms_etl_pipeline_spark.plans.corpus_ml_eval import _BUDGET_TOKENS, token_budget_selection

    rows = sorted(
        token_budget_selection(spark, SF_SMOKE).collect(), key=lambda r: r.cum_toks
    )
    assert rows, "budget must admit at least one doc"
    assert rows[-1].cum_toks <= _BUDGET_TOKENS
    # cum_toks is a prefix sum: each row's total = previous + its own tokens
    prev = 0
    for r in rows:
        assert r.cum_toks == prev + r.n_toks
        prev = r.cum_toks


# ------------------------------------------------------------- pass@k


class TestEvalPassAtK:
    def test_matches_comb_formula_and_edges(self, spark):
        """Every row must equal the textbook 1 - C(n-c,k)/C(n,k) (checked
        via math.comb), with n<k -> NULL and n-c<k -> exactly 1.0."""
        import math

        import pytest

        from tests.conftest import SF_SMOKE

        import __spark_entry__ as em

        rows = em.queries()["eval_pass_at_k"](spark, SF_SMOKE).collect()
        assert rows
        saw_null = saw_one = False
        for r in rows:
            n, c = r["n_attempts"], r["n_correct"]
            for k, col in ((1, "pass_at_1"), (5, "pass_at_5")):
                got = r[col]
                if n < k:
                    assert got is None
                    saw_null = True
                    continue
                expect = 1.0 - math.comb(n - c, k) / math.comb(n, k) if n - c >= k else 1.0
                if n - c < k:
                    assert got == 1.0
                    saw_one = True
                # the engine computes the product form; comb/comb is the
                # same rational so they agree to an ulp — and for the
                # within-double-exact magnitudes here, exactly
                assert got == pytest.approx(expect, abs=1e-12), (n, c, k)
        assert saw_one, "fixture must exercise the n-c<k -> 1.0 arm"

    def test_fewer_attempts_than_k_yields_null(self, spark, tmp_path):
        """n < k is estimator-undefined: pass_at_5 must be NULL, not 1.0
        or a negative-factorial artifact."""
        import __spark_entry__ as em
        from tests.conftest import SF_SMOKE

        few = str(tmp_path / "few")
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").orderBy(
            "event_id"
        ).limit(3).write.parquet(f"{few}/events.parquet")
        rows = em.queries()["eval_pass_at_k"](spark, few).collect()
        assert rows
        assert all(r["n_attempts"] < 5 for r in rows)
        assert all(r["pass_at_5"] is None for r in rows)
        assert all(r["pass_at_1"] is not None for r in rows)
