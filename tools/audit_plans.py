"""Physical-plan audit across the whole query catalog.

Flags the plan shapes that are fine at sf0.01 and fatal at 100 TB:

- CartesianProduct / BroadcastNestedLoopJoin (unless the query is an
  intentional bounded cross join, declared in ALLOW_CROSS)
- unpartitioned Window nodes — Exchange SinglePartition funnels, the
  other classic scale killer — unless declared in ALLOW_GLOBAL_WINDOW
  (SF-independent domain bound)
- every allowlisted claim is MACHINE-CHECKED: the query is executed and
  each cartesian/nested-loop join's small side (BroadcastExchange output
  rows, or the smaller child for a true CartesianProduct) and each
  unpartitioned window's input rows must be <= the declared bound.
  Deliberately unbounding a side or removing a partitionBy therefore
  fails preflight, not just the comment.
- corpus-derived broadcast build sides (ALLOW_BROADCAST): every query
  that hints F.broadcast() on a frame derived from a corpus table is
  executed with auto-broadcast disabled and its worst BroadcastExchange
  output measured against a declared ratio * |driving table| bound — the
  contraction argument ("eval sets are KBs, corpora are TBs") is
  machine-checked, not a docstring.
- the integer-unit fast path's exactness precondition
  (functions.numeric.units: every routed column holds <= scale-dp
  values, max |x*10^s - round(x*10^s)| <= UNITS_MARGIN) is verified
  against the live fixture for every (column, scale) recorded at
  plan-build time — a poisoned 3-dp price fails here with a named
  column instead of producing a silently wrong sum.

Usage: python tools/audit_plans.py [sf_dir]
Exit 1 if any unallowed red flag is found or any declared bound is exceeded.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries whose cross join is the algorithm.  Value = the DECLARED upper
# bound on the rows of every cartesian/nested-loop small side in the plan,
# derived from the algorithm (a 1-row scalar broadcast, a k-row centroid
# table, an n-query probe set, a fixed id-range anchor) — NOT fitted to a
# fixture.  Bounds are SF-independent: each small side is a constant-size
# artifact of the query, which is exactly the claim being checked.
ALLOW_CROSS: dict[str, int] = {
    "knn_cosine_exact": 8,       # 5-row query set x corpus: linear scan
    "knn_filtered_exact": 8,     # same shape over the metadata-filtered corpus
    "dedup_embedding_cosine": 512,  # bounded id-range all-pairs oracle anchor
    "tf_idf_top_terms": 4,       # 1-row corpus-count broadcast
    "contrastive_triplets": 4,   # 1-row corpus-size broadcast (negative sampling bound)
    "text_token_stats": 4,       # same corpus-count pattern via tx.tf_idf
    "tfidf_cosine_pairs": 4,     # same 1-row corpus-count broadcast via tx.tf_idf
    "q11_important_values": 4,   # 1-row global-threshold broadcast (scalar subquery)
    "q22_dormant_balances": 4,   # 1-row global-average broadcast (scalar subquery)
    "domain_mixture_sampling": 4,  # 1-row min-domain-count broadcast
    "lsh_recall_eval": 4,        # 1-row count x 1-row count broadcast (recall ratio)
    "bm25_retrieval_topk": 4,    # 1-row corpus-stats (N, avgdl) broadcast
    "kmeans_lloyd": 16,          # k-row (k=8) centroid broadcast x linear scan
    "pagerank_graph": 4,         # 1-row node-count broadcast per iteration
    "hybrid_retrieval_rrf": 8,   # 3-row query-set broadcast x linear scan (dense leg)
    "cooccurrence_pmi": 4,       # 1-row corpus-totals broadcast
    "ann_recall_eval": 32,       # 20-row query-set broadcast x linear scan (exact leg)
    "pq_recall_eval": 32,        # 20-row query-set broadcast x linear scan (exact leg)
    "corpus_datasheet": 4,       # 1-row corpus-totals broadcast
    "semdedup_kmeans": 16,       # k-row centroid broadcast via the kmeans trainer
    "psi_drift_report": 4,       # 1-row population-totals broadcast
    "triangle_count_cooccur": 4,  # 1-row x 1-row x 1-row stat-combine broadcast
    "assoc_rules_confidence": 4,  # 1-row distinct-user-count broadcast (lift denominator)
    "pca_power_iteration": 4,    # 1-row norm broadcast per unrolled iteration
    "rfm_segmentation": 4,       # 1-row anchor-date (max order date) broadcast
    "key_skew_profile": 4,       # 1-row totals (row count, n_keys) broadcast
    "hits_hubs_authorities": 4,  # 1-row L1-normalizer broadcast per iteration
    "cusum_changepoints": 4,     # 1-row (mu, sigma) broadcast onto the hourly series
    "benford_digit_test": 4,     # 1-row digit-count total broadcast
    "watermark_loss_curve": 4,   # 1-row event-total broadcast (drop-rate denominator)
    "gdpr_erasure_cascade": 8,   # small cohort broadcast onto 1-row per-table counts
    "knn_dot_product_mips": 8,   # 5-row query-set broadcast x linear scan
    "embedding_pairwise_stats": 512,  # bounded 200-row id-range all-pairs anchor
    "semdedup_threshold_sweep": 512,  # same bounded pair anchor + 1-row total broadcast
    "survival_kaplan_meier": 4,  # 1-row horizon + 1-row population-total broadcasts
    "model_gains_table": 4,      # 1-row (total_pos, total_n) broadcast
    "ks_test_drift": 4,          # 1-row sample-size broadcast onto the value-domain CDF
    "cramers_v_association": 4,  # 1-row N broadcast onto the bounded contingency table
    "period_delta_contribution": 4,  # 1-row first-year + 1-row total-delta broadcasts
    "attribution_window_sensitivity": 4,  # 1-row purchase-total broadcast
    "retrieval_mrr_ndcg": 16,    # 10-row query-set broadcast x linear scan
    "scd2_snapshot_asof": 4,     # 1-row as-of-instant broadcast onto the history
    "llr_collocations": 4,       # 1-row bigram-total broadcast (contingency denominator)
    "sax_symbolization": 4,      # 1-row calendar-origin broadcast (frame index base)
    "pinball_loss_eval": 4,      # 1-row calendar-origin broadcast (train/test split base)
    "matryoshka_truncation_eval": 16,  # 10-row query-set broadcast x linear scan
    "price_volume_mix_decomposition": 4,  # 1-row first-year broadcast (period anchor)
    "wasserstein_drift_1d": 4,   # 1-row population-totals broadcast (CDF denominators)
    "ab_quantile_treatment_effect": 4,  # 1-row x 1-row per-arm quantile combine
    "diff_in_differences": 8,    # 1-row midpoint broadcast + 4x 1-row cell combine
    "stump_split_gain": 4,       # 1-row class-totals broadcast onto the value-domain CDF
    "weekday_hour_heatmap": 4,   # 1-row traffic-total broadcast onto <=168 cells
    # operators/rank.py with_uniform_key_buckets: 1-row (min, max) bucket-
    # stats broadcast per bucketed global-order rewrite
    "abc_pareto_classification": 4,   # + 1-row grand-total broadcast
    "equidepth_histogram": 4,
    "pareto_front_2d": 4,
    "peak_concurrency_daily": 4,
    "window_ntile_percentile": 4,
    "gini_concentration": 4,
    "mann_whitney_arms": 4,
    "length_match_resample": 4,
    "quality_ranker_auc": 4,
    "dsir_hashed_ngram_model": 4,      # 1-row (nt, ns) totals broadcast
    "dsir_importance_selection": 4,    # same 1-row totals broadcast under lam
}

# --- Global (unpartitioned) windows: the OTHER classic scale killer. ---
# A Window with an empty partitionSpec forces Exchange SinglePartition:
# every input row funnels through one task, so the stage is sequential no
# matter the cluster size.  (A global SORT is deliberately NOT flagged:
# Spark range-partitions global sorts — the TeraSort pattern — so they
# scale; only windows single-partition.)  Any query whose plan contains
# an unpartitioned window node must appear in exactly one of the two
# allowlists below, and the allowlisted claim is MACHINE-CHECKED from
# executed-plan metrics, mirroring ALLOW_CROSS.

# SF-INDEPENDENT window inputs: the rows entering every unpartitioned
# window are bounded by a domain constant of the algorithm (calendar
# buckets, a value-domain CDF, a vocabulary, a per-bucket offset table),
# NOT by corpus size.  Value = declared upper bound, checked at any SF.
ALLOW_GLOBAL_WINDOW: dict[str, int] = {
    "churned_users_weekly": 64,       # weekly series: calendar-bounded
    "cumulative_unique_users": 128,   # daily series: calendar-bounded
    "cusum_changepoints": 2048,       # hourly series: calendar-bounded
    "dataset_mix_allocation": 64,     # one row per lang domain
    "mixture_temperature_weights": 64,  # one row per lang domain
    "ks_test_drift": 1024,            # CDF over rounded-value domain
    "wasserstein_drift_1d": 1024,     # CDF over rounded-value domain
    "stump_split_gain": 256,          # candidate splits: value domain
    "key_skew_profile": 64,           # row_number over a LIMIT-20 top slice
    # rank.py bucketed rewrites: the only unpartitioned window left is the
    # per-bucket prefix table (<= 64 buckets + null/overflow rows)
    "equidepth_histogram": 128,
    "abc_pareto_classification": 128,
    "pareto_front_2d": 128,
    "peak_concurrency_daily": 128,
    "rfm_segmentation": 128,
    "watermark_loss_curve": 128,
    "window_ntile_percentile": 128,
    "gini_concentration": 128,
    "mann_whitney_arms": 128,
    "length_match_resample": 128,
    "model_gains_table": 128,
    "quality_ranker_auc": 128,
    "survival_kaplan_meier": 2048,    # distinct durations: day-span domain
    "tokenize_to_vocab_ids": 512,     # vocabulary-bounded rank window
    "topn_plus_other_rollup": 128,    # top-N + residual rows per group
    "zipf_slope_fit": 512,            # top-K term ranks
    # scalable-exact global-order rewrites (operators/rank.py): the only
    # unpartitioned window left is the per-coarse-bucket prefix table,
    # bounded by the constant bucket count (<= 64 in all three plans).
    "curriculum_phases": 4096,
    "token_budget_selection": 4096,
    "zorder_layout_stats": 4096,
}

# Broadcast-hash-join BUILD SIDES derived from a corpus table — the last
# allowlisted-claim class that rested on docstring arguments.  A broadcast of an eval-gram set, a contaminated-id
# set, a near-dup component table, or a corpus vocabulary is only
# scale-safe under a CONTRACTION argument ("benchmarks are KBs, corpora
# are TBs"); this table turns each argument into a measured bound: the
# worst executed BroadcastExchange output (rows) across the query's plan
# must be <= ratio * |driving table| at the audited SF.  Ratios come from
# the algorithm (an eval holdout is 1/29 of docs at ~100 grams each; a
# component table is |paired docs| <= |documents|), padded ~2-4x — NOT
# fitted to one fixture — so a plan change that accidentally broadcasts a
# corpus-scale side (e.g. the FULL gram set, ~29x the eval legs) fails
# with a named query.  The measuring run disables BOTH auto-broadcast
# paths (planner threshold and AQE's runtime conversion) so only HINTED
# F.broadcast() sides remain: AQE's conversions are its own size-gated
# runtime decisions, not plan claims, and at fixture scale they would
# drown the signal.  Constant-size broadcasts (1-row stats, k-row
# centroids, <=66-row bucket offsets) need no entry — queries NOT listed
# here are simply not measured for broadcasts (their cross-join /
# global-window claims are already covered above); listing is mandatory
# only for corpus-DERIVED build sides, enforced by review + the named
# entries below.
ALLOW_BROADCAST: dict[str, tuple[str, float]] = {
    # eval 5-gram set (|docs|/29 docs x ~avg distinct grams/doc, grams/doc
    # is an SF-independent document-length property) + contaminated-id set
    # (<= |train docs|); measured worst side ~3.4 x |documents| at
    # sf0.001-0.01 -> declared 12x.  An accidental full-corpus gram
    # broadcast is ~29x the eval leg (~96x |documents|) and fails.
    "decontaminate_ngram_overlap": ("documents", 12.0),
    # no corpus-derived broadcast by design: both gram joins are
    # gram-keyed SHUFFLE joins (df-count + join-back).  Entry pins that —
    # if someone later hints a corpus-side broadcast here, the bound
    # (0.2 x |documents|) fails before the cluster OOMs.
    "boilerplate_ngram_filter": ("documents", 0.2),
    # near-dup component labels (|paired docs| rows <= |documents|) via
    # split_leakage_safe's final enrich join; the composite pipeline's
    # hinted broadcasts are the same component table + rank/stats
    # constants.  Declared 1.2x |documents| (components can never exceed
    # the doc count; 1.2 covers replanning noise).
    "split_leakage_safe": ("documents", 1.2),
    "corpus_curation_pipeline": ("documents", 1.2),
    # per-lang threshold table: |distinct langs| rows — 5 on the fixture,
    # a domain constant in production; 0.1 x |documents| still fails any
    # accidental corpus-side broadcast while tolerating tiny fixtures
    # (at sf0.001 documents ~600 rows -> bound 60 >> 5 langs).
    "domain_mixture_sampling": ("documents", 0.1),
    # frequency-ranked vocabulary: row_number <= _VOCAB_K = 24 rows by
    # construction; same tiny-fixture-tolerant ratio.
    "tokenize_to_vocab_ids": ("documents", 0.1),
    # DSIR λ table: <= _DSIR_B = 256 rows by construction (hashed-vocab
    # model is bucket-bounded, never corpus-bounded); 0.6 x |documents|
    # covers the 500-doc fixtures while failing any corpus-side broadcast.
    "dsir_importance_selection": ("documents", 0.6),
}



_JOIN_NODES = ("CartesianProductExec", "BroadcastNestedLoopJoinExec")
_WINDOW_NODES = ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec")


def _children(node) -> list:
    """Real children of an executed-plan node, descending through the
    adaptive / query-stage / reused wrappers that hide subtrees."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    cs = node.children()
    return [cs.apply(i) for i in range(cs.length())]


def _num_output_rows(node) -> int | None:
    """First numOutputRows metric found in this subtree (pre-order)."""
    mets = node.metrics()
    if mets.contains("numOutputRows"):
        return int(mets.apply("numOutputRows").value())
    for c in _children(node):
        v = _num_output_rows(c)
        if v is not None:
            return v
    return None


def _small_side_rows(node) -> list[tuple[str, int]]:
    """(node name, small-side rows) for every cartesian / nested-loop join
    in the executed plan.  For BNLJ the small side is the broadcast child;
    for a true CartesianProduct it is the smaller child."""
    out: list[tuple[str, int]] = []
    cls = node.getClass().getSimpleName()
    if cls in _JOIN_NODES:
        sides = []
        for c in _children(node):
            rows = _num_output_rows(c)
            if rows is not None:
                sides.append(rows)
        if sides:
            out.append((cls, min(sides)))
        else:  # metrics absent: treat as unbounded -> caller fails loudly
            out.append((cls, 1 << 62))
    for c in _children(node):
        out.extend(_small_side_rows(c))
    return out


def _has_global_window(node) -> bool:
    """True if any window node in the plan has an empty partitionSpec."""
    cls = node.getClass().getSimpleName()
    if cls in _WINDOW_NODES and node.partitionSpec().isEmpty():
        return True
    return any(_has_global_window(c) for c in _children(node))


_LIMIT_NODES = ("GlobalLimitExec", "LocalLimitExec", "TakeOrderedAndProjectExec",
                "CollectLimitExec")


def _input_rows_bound(node) -> int | None:
    """Upper bound on this subtree's output rows: its own numOutputRows
    metric, a limit node's declared limit (metrics-less but cardinality-
    capping — descending past it would misattribute a deeper node's
    count, e.g. a window over LIMIT 20 reading as corpus-sized), else the
    first bound found below (Sort/Exchange pass cardinality through)."""
    mets = node.metrics()
    if mets.contains("numOutputRows"):
        return int(mets.apply("numOutputRows").value())
    if node.getClass().getSimpleName() in _LIMIT_NODES:
        return int(node.limit())
    for c in _children(node):
        v = _input_rows_bound(c)
        if v is not None:
            return v
    return None


def _global_window_inputs(node) -> list[int]:
    """Input rows (child bound) of every unpartitioned window node in the
    executed plan.  Metrics absent -> huge sentinel, so the caller fails
    loudly instead of passing vacuously."""
    out: list[int] = []
    cls = node.getClass().getSimpleName()
    if cls in _WINDOW_NODES and node.partitionSpec().isEmpty():
        ins = [
            v
            for v in (_input_rows_bound(c) for c in _children(node))
            if v is not None
        ]
        out.append(max(ins) if ins else 1 << 62)
    for c in _children(node):
        out.extend(_global_window_inputs(c))
    return out


def _broadcast_rows(node) -> list[int]:
    """numOutputRows of every BroadcastExchange in the executed plan.
    Metrics absent -> huge sentinel, so the caller fails loudly instead
    of passing vacuously."""
    out: list[int] = []
    if node.getClass().getSimpleName() == "BroadcastExchangeExec":
        mets = node.metrics()
        out.append(
            int(mets.apply("numOutputRows").value())
            if mets.contains("numOutputRows")
            else 1 << 62
        )
    for c in _children(node):
        out.extend(_broadcast_rows(c))
    return out


_AUTO_BCAST_CONFS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


def check_broadcast_bounds(spark, queries, sf_dir: str, bounds=None) -> list[str]:
    """Execute every ALLOW_BROADCAST query with BOTH auto-broadcast paths
    disabled (so the only BroadcastExchanges left are hinted F.broadcast()
    build sides — the plan's own claims) and verify the worst executed
    build side against the declared ratio * |driving table| bound."""
    bounds = ALLOW_BROADCAST if bounds is None else bounds
    failures: list[str] = []
    saved = {}
    for k in _AUTO_BCAST_CONFS:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 - conf unset
            saved[k] = None
        spark.conf.set(k, "-1")
    try:
        table_rows: dict[str, int] = {}
        for name in sorted(bounds):
            table, ratio = bounds[name]
            fn = queries.get(name)
            if fn is None:
                failures.append(f"{name}: broadcast-allowlisted but not registered")
                continue
            if table not in table_rows:
                table_rows[table] = spark.read.parquet(
                    f"{sf_dir}/{table}.parquet"
                ).count()
            bound = int(ratio * table_rows[table])
            try:
                df = fn(spark, sf_dir)
                df.collect()
                rows = _broadcast_rows(df._jdf.queryExecution().executedPlan())
            except Exception as exc:  # noqa: BLE001
                failures.append(
                    f"{name}: BROADCAST CHECK FAILED {type(exc).__name__}: {exc}"
                )
                continue
            if not rows:
                print(f"  bcast {'n/a':10s} {name}: no hinted broadcast executed")
                continue
            worst = max(rows)
            status = "ok" if worst <= bound else "OVER BOUND"
            print(
                f"  bcast {status:10s} {name}: worst build side {worst} <= "
                f"{ratio} x |{table}| = {bound} ({len(rows)} broadcasts)"
            )
            if worst > bound:
                failures.append(
                    f"{name}: broadcast build side {worst} rows exceeds the "
                    f"declared bound {ratio} x |{table}| = {bound} — a "
                    "corpus-proportional side is being broadcast"
                )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return failures


# Declared margin for the units() exactness precondition: the fixtures'
# money columns measure <= 1e-9; anything past 1e-6 means a column is NOT a
# <=scale-dp value and unit arithmetic would quantize it (a 3-dp price at
# scale 2 shows residual ~0.4).  Far below the 0.5-unit rounding threshold,
# far above double noise.
UNITS_MARGIN = 1e-6

_FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# The engine's float METRIC columns: every exact-decimal aggregate, fixed-
# point quantization, and integer-unit conversion in the catalog assumes
# these are FINITE (NaN/Inf cannot be represented in DECIMAL/INT64 — both
# engines abort mid-query on the cast).  The gate turns that 100-TB-deep
# crash into a preflight message naming the column.  TPC-H money columns
# are covered by the units() residual check below (which also counts
# non-finite rows — a plain max-residual compare is NaN-blind: NaN > margin
# is FALSE).
FINITE_METRIC_COLUMNS: dict[str, list[str]] = {
    "events": ["value"],
    "embeddings": ["embedding"],  # array<float>
}


def finite_metric_failures(spark, sf_dir: str) -> list[str]:
    """Count non-finite values per declared metric column on the live
    fixture; any hit is a domain violation named at preflight."""
    from pyspark.sql import functions as F

    failures: list[str] = []
    for t, cols in FINITE_METRIC_COLUMNS.items():
        try:
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        except Exception:  # noqa: BLE001 - partial fixture dirs
            continue
        aggs = []
        for c in cols:
            if c not in df.columns:
                failures.append(f"finite-metric column {t}.{c} missing from fixture")
                continue
            if str(df.schema[c].dataType).startswith("ArrayType"):
                bad = F.exists(
                    F.col(c),
                    lambda x: F.isnan(x.cast("double"))
                    | (F.abs(x.cast("double")) == float("inf")),
                )
            else:
                bad = F.isnan(F.col(c).cast("double")) | (
                    F.abs(F.col(c).cast("double")) == float("inf")
                )
            aggs.append(F.sum(F.when(bad, 1).otherwise(0)).alias(c))
        if not aggs:
            continue
        row = df.agg(*aggs).collect()[0]
        for c in row.asDict():
            n_bad = row[c] or 0
            status = "ok" if n_bad == 0 else "VIOLATED"
            print(f"  finite {status:9s} {t}.{c}: {n_bad} non-finite values")
            if n_bad:
                failures.append(
                    f"finite-metric domain VIOLATED: {t}.{c} carries {n_bad} "
                    "NaN/Inf values — exact-decimal and integer-unit plans "
                    "cannot represent them; quarantine the rows upstream"
                )
    return failures


def unit_precondition_failures(spark, sf_dir: str) -> list[str]:
    """Verify, for EVERY (column, scale) pair recorded by
    functions.numeric.units at plan-build time, that the fixture column
    satisfies the exactness precondition
    max |x*10^s - round(x*10^s)| <= UNITS_MARGIN.  Returns human-readable
    failures (empty = certified).  A column that cannot be located in any
    fixture table is itself a failure: an unauditable precondition is an
    unverified one.

    Pairs are checked INDIVIDUALLY, not folded per column: the strictest
    precondition is the SMALLEST recorded scale (a <=2-dp value is exact at
    scale 4, but a 3-dp value is exact at scale 4 and NOT at scale 2), so a
    column registered at both scales — l_extendedprice is, via q1's scale-2
    revenue units and q17's scale-4 threshold — must certify at each.  The
    per-pair residuals batch into the same single df.agg per table."""
    from pyspark.sql import functions as F

    from lms_etl_pipeline_spark.functions.numeric import UNIT_CALLS

    # col -> every scale it is routed at (each is its own precondition)
    need: dict[str, set[int]] = {}
    for col, scale in UNIT_CALLS:
        need.setdefault(col, set()).add(scale)
    if not need:
        return ["units() registry is empty — build the catalog plans first"]

    failures: list[str] = []
    located: set[str] = set()
    for t in _FIXTURE_TABLES:
        try:
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        except Exception:  # noqa: BLE001 - partial fixture dirs are fine
            continue
        cols = [c for c in df.columns if c in need and c not in located]
        if not cols:
            continue
        located.update(cols)
        aggs = [
            F.max(
                F.abs(F.col(c) * (10**s) - F.round(F.col(c) * (10**s)))
            ).alias(f"{c}__s{s}")
            for c in cols
            for s in sorted(need[c])
        ]
        # NaN-blindness guard: NaN > margin is FALSE, so a NaN-poisoned
        # money column would pass a plain residual compare — count
        # non-finite rows separately (once per column) and fail on any.
        aggs += [
            F.sum(
                F.when(
                    F.isnan(F.col(c)) | (F.abs(F.col(c)) == float("inf")), 1
                ).otherwise(0)
            ).alias(f"__nf_{c}")
            for c in cols
        ]
        row = df.agg(*aggs).collect()[0]
        for c in cols:
            n_nf = row[f"__nf_{c}"] or 0
            if n_nf:
                print(f"  units {'VIOLATED':10s} {t}.{c}: {n_nf} non-finite values")
                failures.append(
                    f"units precondition VIOLATED for {t}.{c}: {n_nf} NaN/Inf "
                    "values — not a money-domain column state"
                )
                continue
            for s in sorted(need[c]):
                resid = row[f"{c}__s{s}"]
                if resid is None:
                    print(f"  units {'n/a':10s} {t}.{c}@{s}: all-null column")
                    continue
                status = "ok" if resid <= UNITS_MARGIN else "VIOLATED"
                print(
                    f"  units {status:10s} {t}.{c}: max|x*10^{s} - round| "
                    f"= {resid:.3g} <= {UNITS_MARGIN}"
                )
                if resid > UNITS_MARGIN:
                    failures.append(
                        f"units precondition VIOLATED for {t}.{c} at scale "
                        f"{s}: max residual {resid:.6g} > {UNITS_MARGIN} — "
                        "the column is not a <=scale-dp value; unit arithmetic "
                        "would silently quantize it"
                    )
    for c in sorted(set(need) - located):
        failures.append(
            f"units({c!r}): column not found in any fixture table under "
            f"{sf_dir} — precondition cannot be certified"
        )
    return failures


def check_bounds(spark, entrymod, sf_dir: str) -> list[str]:
    """Execute every allowlisted query once and verify each declared
    cross-join small-side bound and global-window input bound from the
    executed plan's metrics."""
    failures: list[str] = []
    queries = entrymod.queries()
    for name in sorted(set(ALLOW_CROSS) | set(ALLOW_GLOBAL_WINDOW)):
        fn = queries.get(name)
        if fn is None:
            failures.append(f"{name}: allowlisted but not registered")
            continue
        try:
            df = fn(spark, sf_dir)
            # collect() (not a write/count wrapper) so the metrics land on
            # THIS DataFrame's queryExecution — a writer or count() builds
            # a separate execution whose metrics we couldn't traverse.
            # Every allowlisted query is report-sized by construction.
            df.collect()
            plan = df._jdf.queryExecution().executedPlan()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: BOUND CHECK FAILED {type(exc).__name__}: {exc}")
            continue

        if name in ALLOW_CROSS:
            bound = ALLOW_CROSS[name]
            sides = _small_side_rows(plan)
            if not sides:
                # The allowlisted cross join optimized away at this SF —
                # fine for the shape audit, nothing to measure.
                print(f"  bound {'n/a':10s} {name}: no cross/NL join in executed plan")
            else:
                worst = max(r for _, r in sides)
                status = "ok" if worst <= bound else "OVER BOUND"
                print(
                    f"  bound {status:10s} {name}: worst small side {worst} <= {bound}"
                    f" ({len(sides)} cross/NL joins)"
                )
                if worst > bound:
                    failures.append(
                        f"{name}: cross-join small side {worst} rows exceeds the "
                        f"declared bound {bound} — the boundedness claim is false"
                    )

        if name in ALLOW_GLOBAL_WINDOW:
            inputs = _global_window_inputs(plan)
            if not inputs:
                print(f"  gwin  {'n/a':10s} {name}: no unpartitioned window executed")
                continue
            worst = max(inputs)
            bound = ALLOW_GLOBAL_WINDOW[name]
            desc = f"<= {bound} (SF-independent)"
            status = "ok" if worst <= bound else "OVER BOUND"
            print(
                f"  gwin  {status:10s} {name}: worst window input {worst} {desc}"
                f" ({len(inputs)} global windows)"
            )
            if worst > bound:
                failures.append(
                    f"{name}: unpartitioned-window input {worst} rows exceeds "
                    f"the declared bound {desc} — the boundedness claim is false"
                )
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod
    from lms_etl_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    failures: list[str] = []
    for name, fn in sorted(entrymod.queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().sparkPlan().toString()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: PLAN FAILED {type(exc).__name__}: {exc}")
            continue
        flags: list[str] = []
        if "CartesianProduct" in plan and name not in ALLOW_CROSS:
            flags.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in ALLOW_CROSS:
            flags.append("BroadcastNestedLoopJoin")
        if name not in ALLOW_GLOBAL_WINDOW and _has_global_window(
            df._jdf.queryExecution().sparkPlan()
        ):
            flags.append("UnpartitionedWindow")
        status = "⚠ " + ",".join(flags) if flags else "ok"
        print(f"  {status:28s} {name}")
        if flags:
            failures.append(f"{name}: {flags}")

    print("\n== allowlist declared-bound verification (cross joins + global windows) ==")
    failures.extend(check_bounds(spark, entrymod, sf_dir))

    print("\n== corpus-derived broadcast build-side bounds (hinted only) ==")
    failures.extend(check_broadcast_bounds(spark, entrymod.queries(), sf_dir))

    print("\n== units() exactness precondition (functions.numeric) ==")
    failures.extend(unit_precondition_failures(spark, sf_dir))

    print("\n== finite-metric domain gate (NaN/Inf rejection) ==")
    failures.extend(finite_metric_failures(spark, sf_dir))

    if failures:
        print("\nRED FLAGS:")
        for f in failures:
            print(" -", f)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
