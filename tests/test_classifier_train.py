"""Quality-classifier GD training: exactness, trajectory, and edge pins.

The value-level cross-engine check lives in tools/check_oracle.py (both
queries are exact-oracle-backed); here we pin the pieces that make that
exactness STRUCTURAL rather than lucky:

- both training arms — the driver loop over the collected feature
  histogram and the distributed per-iteration fallback — reproduce a
  pure-Python exact-integer reference bit-for-bit on controlled fixtures
  (same discipline as test_bpe.py's set-wise == left-to-right pin);
- the hard-sigmoid clamp-before-divide never hands a negative operand to
  truncating division, and saturates exactly at 0 / 1e6;
- the sign/magnitude update rule matches truncation-toward-zero on both
  gradient signs;
- the trajectory genuinely trains (loss strictly improves over the run)
  so the operator is a trainer, not a fixed-point identity;
- empty corpus: K rows, NULL loss, zero weights (matching the oracle's
  NULL-sum/CASE-ELSE arm);
- in budget, building the trainer launches at most 3 Spark jobs, so a
  regression back to one action per iteration fails here.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _py_reference(rows, iters, shift):
    """Pure-Python exact-integer GD twin of plans/classifier_train._train."""
    u = 1_000_000
    w = [0, 0, 0, 0]
    hist = []
    for it in range(1, iters + 1):
        g = [0, 0, 0, 0]
        loss = 0
        for y, x1, x2, x3 in rows:
            x = (1, x1, x2, x3)
            m = sum(w[j] * x[j] for j in range(4))
            p = min(max(m + 2 * u, 0), 4 * u) // 4
            r = p - y * u
            loss += r * r
            for j in range(4):
                g[j] += r * x[j]
        den = len(rows) << shift
        for j in range(4):
            if g[j] > 0:
                w[j] -= abs(g[j]) // den
            elif g[j] < 0:
                w[j] += abs(g[j]) // den
        hist.append((it, loss, tuple(w)))
    return hist


def _arms(monkeypatch):
    """Run the loop body once per training arm: ``driver`` (the feature
    histogram collected under the shipped budget) and ``distributed``
    (``collect_bounded`` forced to report over budget, which forces the
    fallback even on an empty corpus).  Yields the arm's name and checks
    that ``_train`` took that arm."""
    from lms_etl_pipeline_spark import session
    from lms_etl_pipeline_spark.plans import classifier_train

    fallbacks = []
    distributed = classifier_train._train_distributed
    monkeypatch.setattr(
        classifier_train,
        "_train_distributed",
        lambda *a: fallbacks.append(1) or distributed(*a),
    )
    collect = session.collect_bounded

    def over_budget(df):
        return None, df

    for arm, collector in (("driver", collect), ("distributed", over_budget)):
        monkeypatch.setattr(session, "collect_bounded", collector)
        fallbacks.clear()
        yield arm
        assert bool(fallbacks) == (arm == "distributed"), f"{arm} arm not taken"
    monkeypatch.setattr(session, "collect_bounded", collect)


class TestTrainExactness:
    def test_matches_python_reference_on_smoke_corpus(self, spark, monkeypatch):
        from lms_etl_pipeline_spark.plans.classifier_train import (
            GD_ITERS,
            LR_SHIFT,
            _features,
            _train,
        )

        feats = [
            (r["y"], r["x1"], r["x2"], r["x3"])
            for r in _features(spark, SF_SMOKE).collect()
        ]
        assert feats, "smoke corpus must yield features"
        expected = _py_reference(feats, GD_ITERS, LR_SHIFT)
        for arm in _arms(monkeypatch):
            history, w = _train(spark, SF_SMOKE)
            got = [
                (it, int(loss), (w0, w1, w2, w3))
                for it, loss, w0, w1, w2, w3 in history
            ]
            assert got == expected, arm
            assert list(w) == list(expected[-1][2]), arm

    def test_output_emits_exact_bigint_limbs(self, spark):
        """The loss is emitted as two BIGINT limbs (hi/lo at base 10^18) —
        unbounded exactness with NO decimal-class output column
        (native-type cell hashing diverges on Decimal vs int even at equal
        values)."""
        from lms_etl_pipeline_spark.plans.classifier_train import (
            _LIMB,
            _train,
            quality_classifier_train,
        )

        history, _ = _train(spark, SF_SMOKE)
        df = quality_classifier_train(spark, SF_SMOKE)
        assert all("decimal" not in t for _, t in df.dtypes)
        rows = df.collect()
        assert all(0 <= r["loss_lo"] < _LIMB and r["loss_hi"] >= 0 for r in rows)
        got = {r["iteration"]: r["loss_hi"] * _LIMB + r["loss_lo"] for r in rows}
        assert got == {it: loss for it, loss, *_ in history}

    def test_loss_strictly_improves(self, spark):
        from lms_etl_pipeline_spark.plans.classifier_train import _train

        history, _ = _train(spark, SF_SMOKE)
        losses = [int(h[1]) for h in history]
        # genuinely trains: final loss well below the all-0.5 start, and
        # the trajectory is monotone non-increasing (full-batch GD with a
        # stable step on a convex piecewise-quadratic)
        assert losses[-1] < losses[0]
        assert all(b <= a for a, b in zip(losses, losses[1:]))

    def test_build_launches_at_most_three_jobs_in_budget(self, spark):
        """The trainer collapses the corpus to its feature histogram in one
        collect and loops on the driver: building it launches the parquet
        footer read, the histogram's shuffle map stage and its collect —
        never one job per GD iteration, as the distributed fallback does."""
        from lms_etl_pipeline_spark.plans.classifier_train import (
            quality_classifier_train,
        )

        sc = spark.sparkContext
        group = "classifier-build-job-count"
        sc.setJobGroup(group, "quality_classifier_train build")
        try:
            quality_classifier_train(spark, SF_SMOKE)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= 3, jobs


class TestHardSigmoidEdges:
    @pytest.mark.parametrize(
        "margin_u, expected_p",
        [
            (-3_000_000, 0),  # saturated low
            (-2_000_000, 0),  # exact knee
            (-1_999_999, 0),  # first step above the knee truncates to 0
            (0, 500_000),  # midpoint
            (1, 500_000),  # truncation, not rounding
            (2_000_000, 1_000_000),  # exact knee
            (9_000_000, 1_000_000),  # saturated high
        ],
    )
    def test_clamp_before_divide(self, spark, margin_u, expected_p):
        # the SQL shape the plan emits, with the margin forced to a literal
        row = spark.sql(
            f"SELECT least(greatest(CAST({margin_u} AS BIGINT) + 2000000, "
            f"CAST(0 AS BIGINT)), 4000000) div 4 AS p"
        ).collect()[0]
        assert row["p"] == expected_p

    def test_update_rule_truncates_toward_zero_both_signs(self):
        hist_pos = _py_reference([(0, 10, 5, 1)], 1, 12)
        hist_neg = _py_reference([(1, 10, 5, 1)], 1, 12)
        # |g| identical in magnitude, opposite sign: updates must mirror
        (_, _, w_pos), (_, _, w_neg) = hist_pos[-1], hist_neg[-1]
        assert tuple(-v for v in w_pos) == w_neg


class TestEmptyCorpus:
    def test_empty_corpus_null_loss_zero_weights(self, spark, tmp_path, monkeypatch):
        from lms_etl_pipeline_spark.plans.classifier_train import (
            GD_ITERS,
            quality_classifier_train,
        )

        empty = str(tmp_path / "empty")
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(0).write.parquet(
            f"{empty}/documents.parquet"
        )
        for arm in _arms(monkeypatch):
            out = quality_classifier_train(spark, empty).collect()
            assert len(out) == GD_ITERS, arm
            assert all(r["loss_hi"] is None and r["loss_lo"] is None for r in out), arm
            assert all(
                r[c] == 0
                for r in out
                for c in ("w_bias", "w_ntokens", "w_distinct", "w_stop")
            ), arm


class TestSingleClassCorpora:
    """Both GD arms must stay bit-exact when one class is absent (all-y=1 /
    all-y=0 gradients) and when the hard-sigmoid clamp saturates under huge
    margins (a 30k-token document drives |w·x| far past both knees by
    iteration 2)."""

    def _run(self, spark, tmp_path, monkeypatch, texts, name):
        from lms_etl_pipeline_spark.plans.classifier_train import (
            GD_ITERS,
            LR_SHIFT,
            _features,
            _train,
        )

        path = str(tmp_path / name)
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
        ).write.parquet(f"{path}/documents.parquet")
        feats = [
            (r["y"], r["x1"], r["x2"], r["x3"])
            for r in _features(spark, path).collect()
        ]
        expected = _py_reference(feats, GD_ITERS, LR_SHIFT)
        for arm in _arms(monkeypatch):
            history, w = _train(spark, path)
            got = [
                (it, loss, (w0, w1, w2, w3)) for it, loss, w0, w1, w2, w3 in history
            ]
            assert got == expected, arm
        return feats, w

    def test_all_positive_labels(self, spark, tmp_path, monkeypatch):
        texts = [" ".join(f"p{i}x{j}" for j in range(20 + 5 * i)) for i in range(8)]
        feats, w = self._run(spark, tmp_path, monkeypatch, texts, "allpos")
        assert feats and all(f[0] == 1 for f in feats)
        # with only positive labels the bias gradient is negative from the
        # all-0.5 start, so weights move up (toward predicting 1)
        assert w[0] >= 0

    def test_all_negative_labels_with_clamp_saturation(
        self, spark, tmp_path, monkeypatch
    ):
        texts = [" ".join("tok" for _ in range(5)) for _ in range(6)]
        # 30k distinct tokens: n > 1000 -> y=0, and the learned w1 drives
        # the margin past both hard-sigmoid knees on iteration 2
        texts.append(" ".join(f"t{j}" for j in range(30_000)))
        feats, w = self._run(spark, tmp_path, monkeypatch, texts, "allneg")
        assert feats and all(f[0] == 0 for f in feats)


class TestPredictComposition:
    def test_predict_scores_match_final_weights(self, spark, monkeypatch):
        from lms_etl_pipeline_spark.plans.classifier_train import (
            _features,
            _train,
            quality_classifier_predict,
        )

        u = 1_000_000
        feats = _features(spark, SF_SMOKE).collect()
        for arm in _arms(monkeypatch):
            _, w = _train(spark, SF_SMOKE)
            got = {
                r["doc_id"]: (r["y_rule"], r["p_u6"])
                for r in quality_classifier_predict(spark, SF_SMOKE).collect()
            }
            for r in feats:
                m = w[0] + w[1] * r["x1"] + w[2] * r["x2"] + w[3] * r["x3"]
                p = min(max(m + 2 * u, 0), 4 * u) // 4
                assert got[r["doc_id"]] == (r["y"], p), arm

    def test_label_integer_form_equals_rule_filter(self, spark):
        """2*s<=n and 20*d>n must reproduce doc_quality_filter's float-ratio
        gates exactly (they are algebraically equivalent for n>0)."""
        from lms_etl_pipeline_spark.plans.classifier_train import _features
        from lms_etl_pipeline_spark.plans.llm import doc_quality_filter

        labeled = {r["doc_id"] for r in _features(spark, SF_SMOKE).collect() if r["y"] == 1}
        filtered = {r["doc_id"] for r in doc_quality_filter(spark, SF_SMOKE).collect()}
        assert labeled == filtered


class TestPredictCacheHygiene:
    def test_predict_leaves_cache_manager_empty_in_persist_mode(
        self, spark, monkeypatch
    ):
        """In persist-mode sessions (the cluster default),
        ``quality_classifier_predict`` must not pin a CacheManager entry
        that outlives the invocation, on either training arm — the
        distributed arm's training cache is released before return and the
        returned plan scores a freshly derived feature frame, so the SQL
        CacheManager must be EMPTY once the result is resolved."""
        from lms_etl_pipeline_spark.plans.classifier_train import (
            quality_classifier_predict,
        )
        from lms_etl_pipeline_spark import session
        from lms_etl_pipeline_spark.session import MATERIALIZE_CONF

        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.isEmpty(), "precondition: another test leaked a cache entry"

        def check(arm):
            spark.conf.set(MATERIALIZE_CONF, "persist")
            try:
                out = quality_classifier_predict(spark, SF_SMOKE)
                assert out.count() > 0
            finally:
                spark.conf.unset(MATERIALIZE_CONF)
            assert cm.isEmpty(), (
                f"quality_classifier_predict ({arm} arm) pinned a CacheManager "
                "entry with no release handle"
            )

        for arm in _arms(monkeypatch):
            check(arm)
        # a real over-budget collect hands the persisted histogram to the
        # fallback, which must release it
        monkeypatch.setattr(session, "LOCAL_COLLECT_BUDGET_ROWS", 0)
        check("over-budget")
