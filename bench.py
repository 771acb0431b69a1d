"""Headline benchmark: time the engine's flagship queries at sf0.1.

Runs each ``HEADLINE`` query end to end on ``local[$SPARK_GRAFT_CPUS]``
against ``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) and
prints ONE compact JSON line on stdout::

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1,
     "exec_total_sec": N}

``queries`` holds each query's best wall time over ``$BENCH_REPS`` reps
(default 3), plan build included; ``value`` is their sum.
``exec_total_sec`` sums each query's smallest in-job time: the Spark job
durations of one rep, i.e. task scheduling plus executor work.  The rest
of the wall time is driver-side work: Python plan building, Catalyst and
codegen, Py4J.  The full record (per-query ``exec``, ``jobs``, ``spread``,
``reps`` and ``plan_hashes``) goes to stderr as one JSON line.

Wall time on a shared host is noisy.  Performance claims are judged with
paired ``perfbench`` runs (CPU time of the process tree); this script is
the headline timer and the plan-hash record.

Measurement:

- each query is forced through a full-column hash sink (``sink_of``), not
  ``count()``: Catalyst column-prunes projection-only plans under a count,
  which silently drops projection-shaped work;
- every rep builds a fresh frame (``time_rep``), so no rep reuses another
  rep's shuffle output;
- sub-second queries get at least ``SUBSEC_MIN_REPS`` reps, since their
  min-of-3 still swings by tens of percent on an unchanged plan;
- ``plan_fingerprint`` hashes each optimized plan, so a timing change can
  be told apart from a plan change.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "flagship_regional_revenue",
    "join_left_outer_counts",
    "window_topk_per_group",
    "events_session_window",
    "tf_idf_top_terms",
    "near_dup_pairs_lsh",
    "knn_cosine_exact",
    "minhash_signatures",
    "multimodal_image_decode",
    "dedup_embedding_cosine",
    "corpus_curation_pipeline",
    # the bucketed exact global-order operator family (operators/rank.py)
    "token_budget_selection",
    # the as-of join family (cogrouped sort-merge "next event after t")
    "join_asof_next_purchase",
    # BPE merge learning: the shallow and the deep hybrid path
    "bpe_train_merges",
    "bpe_train_merges_deep",
    # iterative full-batch GD training over a materialized feature frame
    "quality_classifier_train",
    # sort-free exact quantiles (batched radix selection)
    "quantile_exact_selection",
    # hashed-n-gram model build + broadcast scoring + top-k
    "dsir_importance_selection",
    # the real-codec mapInPandas family (Y4M synth + parse + frame sampling)
    "multimodal_y4m_frames_real",
)

# Sub-second queries sit inside the host's fixed-cost noise floor: they get
# at least this many reps so min and spread mean something.
SUBSEC_MIN_REPS = 5


def sink_of(df):
    """Wrap a result in a full-column hash-sum sink DataFrame (unevaluated),
    so projection-only plans can't be column-pruned down to a row count."""
    from pyspark.sql import functions as F

    cols = [
        F.to_json(F.struct(c)) if t.startswith(("map<", "struct<")) else F.col(c)
        for c, t in df.dtypes
    ]
    # bit_xor (not sum): the engine runs ANSI mode, where summing 64-bit
    # hashes overflows
    return df.select(F.xxhash64(*cols).alias("__h")).agg(F.bit_xor("__h"))


def force_eval(df) -> None:
    """Evaluate EVERY output column through the hash-sum sink."""
    sink_of(df).collect()


def plan_fingerprint(df) -> str:
    """12-hex digest of the optimized logical plan with volatile tokens
    (expression IDs, plan IDs, scratch paths) stripped — stable across
    sessions iff the plan shape is unchanged."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"#\d+[L]?", "#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"file:[^\s,\]]+", "file:", s)
    s = re.sub(r"\blambda [A-Za-z_]+_\d+", "lambda x_", s)
    return hashlib.md5(s.encode()).hexdigest()[:12]


def time_rep(spark, fn, sf_dir: str) -> tuple[float, float, int]:
    """One timed rep of query ``fn``: build a fresh frame and force it
    through the sink.  Returns ``(wall_s, job_s, n_jobs)``: wall seconds
    including the plan build (and any jobs the builder runs eagerly), the
    summed durations of the Spark jobs the rep launched, and their count.

    Re-collecting one DataFrame is no steady-state proxy: the scheduler
    skips its already-computed shuffle map stages, so every rep rebuilds.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def job_ids() -> set[int]:
        # the status store is fed by the listener bus; drain it first so
        # every job started so far is visible, with its end time
        jsc.listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = job_ids()
    t0 = time.perf_counter()
    force_eval(fn(spark, sf_dir))
    wall = time.perf_counter() - t0
    new = job_ids() - before
    store = jsc.statusStore()
    job_s = 0.0
    for jid in new:
        jd = store.job(jid)
        sub, end = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and end.isDefined():
            job_s += (end.get().getTime() - sub.get().getTime()) / 1000.0
    return wall, job_s, len(new)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    import __spark_entry__ as entrymod
    from lms_etl_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    reps = max(int(os.environ.get("BENCH_REPS", "3")), 1)

    # Warm the JVM and the parquet footer caches once, so per-query numbers
    # measure the plan, not session start-up.
    force_eval(qs["flagship_regional_revenue"](spark, sf_dir))

    timings: dict[str, float] = {}
    execs: dict[str, float] = {}
    jobs: dict[str, int] = {}
    spreads: dict[str, float] = {}
    reps_used: dict[str, int] = {}
    plans: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs[name]
        samples: list[tuple[float, float, int]] = []
        n_reps = reps
        while len(samples) < n_reps:
            samples.append(time_rep(spark, fn, sf_dir))
            if len(samples) == n_reps and min(s[0] for s in samples) < 1.0:
                n_reps = max(n_reps, SUBSEC_MIN_REPS)
        walls = [s[0] for s in samples]
        timings[name] = round(min(walls), 3)
        spreads[name] = round(max(walls) - min(walls), 3)
        execs[name] = round(min(s[1] for s in samples), 3)
        jobs[name] = min(s[2] for s in samples)
        reps_used[name] = len(samples)
        plans[name] = plan_fingerprint(fn(spark, sf_dir))

    line = json.dumps({
        "metric": "headline_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "exec_total_sec": round(sum(execs.values()), 3),
    })
    # callers capture a bounded tail of stdout (~2000 chars)
    assert len(line) < 1900, f"printed bench line is {len(line)} chars"
    record = {
        **json.loads(line),
        "exec": execs,
        "jobs": jobs,
        "spread": spreads,
        "reps": reps_used,
        "plan_hashes": plans,
    }
    print(json.dumps(record), file=sys.stderr, flush=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
