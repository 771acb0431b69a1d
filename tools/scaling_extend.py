"""Fourth-decade scaling measurement for the heaviest headline plans.

The sf0.001→sf0.1 range in SCALING.md is fixed-cost-dominated on this
box (slopes ≤0.5), which makes the sublinearity claim easy; this tool
adds one more decade for the five most expensive plans by synthesizing a
~sf1 fixture (10× sf0.1) for exactly the tables those plans read:

- ``lineitem``  — 10 key-shifted copies (q1's scan-bound aggregate);
- ``documents`` — 10 doc_id-shifted copies, each copy's text tagged with
  a distinct trailing token so duplicate GROUPS stay within-copy and the
  pair count scales linearly (identical copies would make the near-dup
  pair count grow quadratically BY DATA SEMANTICS and contaminate the
  plan-scaling measurement);
- ``embeddings`` — 10 vec_id-shifted copies (query/anchor id ranges are
  below the shift, so probe sets stay fixed while the corpus scales).

The fixture lives under ``.scratch/sf1`` (gitignored, rebuilt on
demand); timings follow bench.py discipline (full-column hash-sum sink,
min-of-REPS).  Output: a Markdown section for SCALING.md.

Round 8 adds a FIFTH measured point: ``--sf3`` builds a 30-copy
(~sf3) fixture of just lineitem + documents and measures the three
headline heavies whose plans changed in r7/r8 (q1's unit fast path +
hi/lo splits, the LSH band join, the curation composite) over the
half-decade sf1→sf3, confirming the slopes hold beyond the four
recorded decades.  Slope = log(t3/t1)/log10(3).

Round 9 adds a SIXTH point: ``--sf10`` builds a 100-copy (~sf10,
500k-doc) documents fixture and measures the single heaviest plan
(``corpus_curation_pipeline``) over the half-decade sf3→sf10, ALSO
reporting the materialization footprint of its localCheckpoint barriers
(RDD storage bytes vs the block manager's storage capacity) — the
memory-headroom evidence behind session.materialize's deployment seam
(local checkpoint on one box vs persist(MEMORY_AND_DISK) on a cluster).

Round 10 adds ``--materialize-cells``: the SAME heavy plans
(``corpus_curation_pipeline`` + the iterative ``dedup_clusters``) timed
under BOTH materialization strategies (``local-checkpoint`` vs
``persist``, toggled via the session conf seam) at ~sf3 and ~sf10 —
the measured cost of the 100 TB cluster default that r9's sixth decade
left unquantified (VERDICT r9 "What's wrong #2").  Persist cells set a
checkpoint dir first (standard practice for iterative Spark on a
cluster), so loop barriers whose body references the previous frame
twice take the reliable-checkpoint path.

Usage: python tools/scaling_extend.py [--rebuild] [--sf3] [--sf10] [--lsh-sf10]
       [--materialize-cells [--skip-sf10]]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
BIG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1")
COPIES = 10
REPS = 2
SLOPE_RED_FLAG = 1.3

HEAVY = (
    "q1_pricing_summary",
    "tf_idf_top_terms",
    "near_dup_pairs_lsh",
    "dedup_embedding_cosine",
    "corpus_curation_pipeline",
)


BIG3 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf3"
)
SF3_COPIES = 30
SF3_HEAVY = (
    "q1_pricing_summary",
    "near_dup_pairs_lsh",
    "corpus_curation_pipeline",
    # round 11: the sort-free exact-order-statistics family — its scale
    # claim (bounded counting passes, no global sort) is slope-checked
    # on the lineitem copies like the other heavy plans
    "quantile_exact_selection",
    # round 11: DSIR importance selection — ONE corpus tokenize pass
    # (materialized doc x bucket counts feed model + weights),
    # bucket-bounded model join, TakeOrderedAndProject top-k
    "dsir_importance_selection",
)

BIG10 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf10"
)
SF10_COPIES = 100


def _storage_footprint(spark) -> tuple[int, int]:
    """(bytes cached across all RDD storage, block-manager storage max) —
    the localCheckpoint barriers of the plan under test are the only
    cached RDDs in this tool's session, so the first number IS their
    materialization footprint."""
    sc = spark.sparkContext._jsc.sc()
    cached = sum(
        info.memSize() + info.diskSize() for info in sc.getRDDStorageInfo()
    )
    # statusStore().executorList returns a Scala Seq — iterate via apply(i)
    execs = sc.statusStore().executorList(True)
    cap = sum(int(execs.apply(i).maxMemory()) for i in range(execs.size()))
    return int(cached), int(cap)


def build_fixture(
    spark,
    out_dir: str = None,
    n_copies: int = None,
    tables: tuple = ("lineitem", "documents", "embeddings"),
) -> None:
    from pyspark.sql import functions as F

    from lms_etl_pipeline_spark.sources.tables import load_table

    out_dir = out_dir or BIG
    n_copies = n_copies or COPIES
    os.makedirs(out_dir, exist_ok=True)
    copies = F.explode(F.sequence(F.lit(0), F.lit(n_copies - 1))).alias("_c")

    if "lineitem" in tables:
        li = load_table(spark, BASE, "lineitem")
        shift = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
        (
            li.select("*", copies)
            .withColumn("l_orderkey", F.col("l_orderkey") + F.col("_c") * shift)
            .drop("_c")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "lineitem.parquet"))
        )

    if "documents" in tables:
        d = load_table(spark, BASE, "documents")
        dshift = d.agg(F.max("doc_id")).collect()[0][0] + 1
        (
            d.select("*", copies)
            .withColumn("doc_id", F.col("doc_id") + F.col("_c") * dshift)
            # distinct per-copy tag token keeps dup groups within-copy
            .withColumn(
                "text",
                F.when(F.col("_c") == 0, F.col("text")).otherwise(
                    F.concat(F.col("text"), F.lit(" copytag"), F.col("_c"))
                ),
            )
            .drop("_c")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "documents.parquet"))
        )

    if "embeddings" in tables:
        e = load_table(spark, BASE, "embeddings")
        eshift = e.agg(F.max("vec_id")).collect()[0][0] + 1
        (
            e.select("*", copies)
            .withColumn("vec_id", F.col("vec_id") + F.col("_c") * eshift)
            .drop("_c")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "embeddings.parquet"))
        )


def main() -> int:
    import __spark_entry__ as entrymod
    from bench import force_eval, time_rep
    from lms_etl_pipeline_spark.session import get_spark

    spark = get_spark("scaling-extend")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    if "--rebuild" in sys.argv or not os.path.isdir(
        os.path.join(BIG, "documents.parquet")
    ):
        print("building ~sf1 fixture ...", flush=True)
        build_fixture(spark)

    if "--sf3" in sys.argv:
        if "--rebuild" in sys.argv or not os.path.isdir(
            os.path.join(BIG3, "documents.parquet")
        ):
            print("building ~sf3 fixture (lineitem + documents) ...", flush=True)
            build_fixture(
                spark, BIG3, SF3_COPIES, tables=("lineitem", "documents")
            )
        for sf_dir in (BIG, BIG3):
            force_eval(qs["q1_pricing_summary"](spark, sf_dir))
        # A near-dup query's RESULT SET can grow superlinearly in input by
        # DATA SEMANTICS (the per-copy tag token does not break cross-copy
        # near-dup cliques for long docs: 10-copy cliques -> 30-copy
        # cliques is ~9.7x pairs on 3x docs — measured 5.0 -> 16.0
        # pairs/doc).  Time scaling with input alone would misread that as
        # plan superlinearity, so the sweep measures BOTH slopes and takes
        # the smaller: a plan is scale-clean if its time tracks input OR
        # its own output, whichever grew faster.
        print("| query | ~sf1 s | ~sf3 s | out sf1 | out sf3 | slope_in | slope_out | slope |")
        print("|---|---|---|---|---|---|---|---|")
        worst3 = 0.0
        half = math.log10(SF3_COPIES / COPIES)
        for name in SF3_HEAVY:
            times, outs = [], []
            for sf_dir in (BIG, BIG3):
                times.append(
                    min(time_rep(spark, qs[name], sf_dir)[0] for _ in range(REPS))
                )
                outs.append(qs[name](spark, sf_dir).count())
            slope_in = math.log10(times[1] / times[0]) / half
            growth_out = math.log10(max(outs[1], 1) / max(outs[0], 1))
            slope_out = (
                math.log10(times[1] / times[0]) / growth_out
                if growth_out > half
                else slope_in
            )
            slope = min(slope_in, slope_out)
            worst3 = max(worst3, slope)
            print(
                f"| {name} | {times[0]:.2f} | {times[1]:.2f} | {outs[0]} "
                f"| {outs[1]} | {slope_in:.2f} | {slope_out:.2f} | {slope:.2f} |"
            )
        print(
            f"\nworst sf1->sf3 slope: {worst3:.2f} (red flag at {SLOPE_RED_FLAG})"
        )
        return 1 if worst3 >= SLOPE_RED_FLAG else 0

    if "--materialize-cells" in sys.argv:
        import gc

        from lms_etl_pipeline_spark.session import MATERIALIZE_CONF

        for d, copies, tabs in (
            (BIG3, SF3_COPIES, ("lineitem", "documents")),
            (BIG10, SF10_COPIES, ("documents",)),
        ):
            if not os.path.isdir(os.path.join(d, "documents.parquet")):
                print(f"building {d} ...", flush=True)
                build_fixture(spark, d, copies, tables=tabs)
        spark.sparkContext.setCheckpointDir(
            os.path.join(os.path.dirname(BIG), "ckpt")
        )
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        # round 11 adds the GD trainer (VERDICT r10 #7): the newest
        # iterative consumer of session.materialize/release gets the same
        # two-strategy cell as dedup_clusters; --only=NAME re-measures one
        # plan without re-paying the others' sf10 cells
        names = (
            "corpus_curation_pipeline",
            "dedup_clusters",
            "quality_classifier_train",
        )
        only = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--only=")]
        if only:
            names = tuple(n for n in names if n in only)
        dirs = [BIG3] if "--skip-sf10" in sys.argv else [BIG3, BIG10]
        print(f"driver/executor heap: {mem}")
        print("| query | fixture | strategy | e2e s (min of 2) |")
        print("|---|---|---|---|")
        for sf_dir in dirs:
            label = "~sf3" if sf_dir == BIG3 else "~sf10"
            for name in names:
                for strategy in ("local-checkpoint", "persist"):
                    spark.conf.set(MATERIALIZE_CONF, strategy)
                    best = math.inf
                    for rep in range(REPS + 1):  # rep 0 warms footers/codegen
                        t = time_rep(spark, qs[name], sf_dir)[0]
                        if rep > 0:
                            best = min(best, t)
                        # persist() registers frames in the SQL CacheManager,
                        # which matches by LOGICAL PLAN — so the next rep's
                        # identical plan would silently replay rep k's
                        # InMemoryRelation instead of recomputing (measured:
                        # a 21x "speedup" at ~sf10 that was pure cache hit).
                        # localCheckpoint is RDD-level and never cache-shares
                        # across reps; clear the SQL cache so both strategies
                        # measure a COLD end-to-end run.
                        spark.catalog.clearCache()
                        # drop python refs so the ContextCleaner can reap
                        # this rep's checkpoint/persist blocks before the
                        # next cell measures
                        gc.collect()
                    print(
                        f"| {name} | {label} | {strategy} | {best:.2f} |",
                        flush=True,
                    )
        spark.conf.unset(MATERIALIZE_CONF)
        return 0

    if "--lsh-sf10" in sys.argv:
        # Seventh decade (VERDICT r9 "Next round" #8): the second-heaviest
        # headline plan, near_dup_pairs_lsh, measured over sf3->sf10 with
        # the same semantics-aware gate as the curation row — the banded
        # pair set grows superlinearly BY DATA (cross-copy cliques), so
        # gate on min(slope vs input, slope vs own output volume).
        if not os.path.isdir(os.path.join(BIG10, "documents.parquet")):
            print("building ~sf10 fixture (documents only) ...", flush=True)
            build_fixture(spark, BIG10, SF10_COPIES, tables=("documents",))
        if not os.path.isdir(os.path.join(BIG3, "documents.parquet")):
            print("building ~sf3 fixture (lineitem + documents) ...", flush=True)
            build_fixture(spark, BIG3, SF3_COPIES, tables=("lineitem", "documents"))
        name = "near_dup_pairs_lsh"
        print("| query | ~sf3 s | ~sf10 s | pairs sf3 | pairs sf10 | slope_in | slope_out | slope |")
        print("|---|---|---|---|---|---|---|---|")
        times, outs, foots = [], [], []
        for sf_dir in (BIG3, BIG10):
            force_eval(qs[name](spark, sf_dir))  # warm footers/codegen
            best = math.inf
            for _ in range(REPS):
                best = min(best, time_rep(spark, qs[name], sf_dir)[0])
                foots.append(_storage_footprint(spark))
            times.append(best)
            outs.append(qs[name](spark, sf_dir).count())
        half = math.log10(SF10_COPIES / SF3_COPIES)
        slope_in = math.log10(times[1] / times[0]) / half
        growth_out = math.log10(max(outs[1], 1) / max(outs[0], 1))
        slope_out = (
            math.log10(times[1] / times[0]) / growth_out
            if growth_out > half
            else slope_in
        )
        slope = min(slope_in, slope_out)
        print(
            f"| {name} | {times[0]:.2f} | {times[1]:.2f} | {outs[0]} "
            f"| {outs[1]} | {slope_in:.2f} | {slope_out:.2f} | {slope:.2f} |"
        )
        peak, cap = max(foots, key=lambda t: t[0])
        print(
            f"\nmaterialization footprint (post-run sample): {peak / 1e6:.0f} MB "
            f"of {cap / 1e6:.0f} MB block-manager storage "
            f"({peak / cap * 100 if cap else 0:.1f}% — headroom "
            f"{(cap - peak) / 1e6:.0f} MB)"
        )
        print(f"worst sf3->sf10 slope: {slope:.2f} (red flag at {SLOPE_RED_FLAG})")
        return 1 if slope >= SLOPE_RED_FLAG else 0

    if "--sf10" in sys.argv:
        if "--rebuild" in sys.argv or not os.path.isdir(
            os.path.join(BIG10, "documents.parquet")
        ):
            print("building ~sf10 fixture (documents only) ...", flush=True)
            build_fixture(spark, BIG10, SF10_COPIES, tables=("documents",))
        if not os.path.isdir(os.path.join(BIG3, "documents.parquet")):
            print("building ~sf3 fixture (lineitem + documents) ...", flush=True)
            build_fixture(spark, BIG3, SF3_COPIES, tables=("lineitem", "documents"))
        name = "corpus_curation_pipeline"
        # The curation composite's OUTPUT (survivor docs) is flat across
        # copy-fixtures, but its dominant internal volume — the LSH
        # candidate-pair set — grows superlinearly BY DATA SEMANTICS
        # (per-copy tag tokens don't break cross-copy near-dup cliques
        # for long docs, so 30-copy cliques become 100-copy cliques:
        # pairs/doc grows with copy count).  Time scaling against input
        # alone would misread that as plan superlinearity — mirror the
        # --sf3 sweep and gate on min(slope_in, slope vs pair volume).
        print("| query | ~sf3 s | ~sf10 s | pairs sf3 | pairs sf10 | slope_in | slope_pairs | slope |")
        print("|---|---|---|---|---|---|---|---|")
        times, pairs, foots = [], [], []
        for sf_dir in (BIG3, BIG10):
            force_eval(qs[name](spark, sf_dir))  # warm footers/codegen
            best = math.inf
            for _ in range(REPS):
                best = min(best, time_rep(spark, qs[name], sf_dir)[0])
                # sample immediately after the run, before the context
                # cleaner unpersists the plan's localCheckpoint RDDs —
                # a lower bound if the cleaner races, never an overcount
                foots.append(_storage_footprint(spark))
            times.append(best)
            pairs.append(qs["near_dup_pairs_lsh"](spark, sf_dir).count())
        half = math.log10(SF10_COPIES / SF3_COPIES)
        slope_in = math.log10(times[1] / times[0]) / half
        growth_pairs = math.log10(max(pairs[1], 1) / max(pairs[0], 1))
        slope_pairs = (
            math.log10(times[1] / times[0]) / growth_pairs
            if growth_pairs > half
            else slope_in
        )
        slope = min(slope_in, slope_pairs)
        print(
            f"| {name} | {times[0]:.2f} | {times[1]:.2f} | {pairs[0]} "
            f"| {pairs[1]} | {slope_in:.2f} | {slope_pairs:.2f} | {slope:.2f} |"
        )
        peak, cap = max(foots, key=lambda t: t[0])
        print(
            f"\nmaterialization footprint (localCheckpoint barriers, post-run "
            f"sample): {peak / 1e6:.0f} MB of {cap / 1e6:.0f} MB block-manager "
            f"storage ({peak / cap * 100 if cap else 0:.1f}% — headroom "
            f"{(cap - peak) / 1e6:.0f} MB)"
        )
        print(f"worst sf3->sf10 slope: {slope:.2f} (red flag at {SLOPE_RED_FLAG})")
        return 1 if slope >= SLOPE_RED_FLAG else 0

    if "--r12-cells" in sys.argv:
        # Round 12 (VERDICT r11 next-round #5): extend the round-11
        # newcomers' evidence two more half-decades — the radix-selection
        # exact quantile at ~sf10 (its whole claim is "the 100 TB plan":
        # job count and collect sizes must stay BOUNDED while the column
        # grows 100x) and the PQ ADC scan at ~sf3 and ~sf10 (broadcast
        # codebook + map-only argmin: time must track the corpus linearly
        # with a fixed probe set).  Fixtures reuse the copy-shift scheme;
        # embeddings keep probe ids below the shift so the query set stays
        # fixed while the corpus scales.
        for d, copies, tabs in (
            (BIG3, SF3_COPIES, ("lineitem", "embeddings")),
            (BIG10, SF10_COPIES, ("lineitem", "embeddings")),
        ):
            missing = tuple(
                t for t in tabs if not os.path.isdir(os.path.join(d, f"{t}.parquet"))
            )
            if missing or "--rebuild" in sys.argv:
                print(f"building {d} {missing or tabs} ...", flush=True)
                build_fixture(spark, d, copies, tables=missing or tabs)
        cells = ("quantile_exact_selection", "knn_pq_adc")
        dirs = ((BASE, 0.1), (BIG3, 3.0), (BIG10, 10.0))
        for sf_dir, _ in dirs:
            force_eval(qs["quantile_exact_selection"](spark, sf_dir))
        print("| query | sf0.1 s | ~sf3 s | ~sf10 s | jobs 0.1/3/10 | slope 3→10 |")
        print("|---|---|---|---|---|---|")
        worst = 0.0
        for name in cells:
            times, jobs = [], []
            for sf_dir, _ in dirs:
                best, _, jbest = min(
                    time_rep(spark, qs[name], sf_dir) for _ in range(REPS)
                )
                times.append(best)
                jobs.append(jbest)
            slope = math.log10(times[2] / times[1]) / math.log10(10.0 / 3.0)
            worst = max(worst, slope)
            print(
                f"| {name} | {times[0]:.2f} | {times[1]:.2f} | {times[2]:.2f} "
                f"| {jobs[0]}/{jobs[1]}/{jobs[2]} | {slope:.2f} |"
            )
        print(f"\nworst sf3->sf10 slope: {worst:.2f} (red flag at {SLOPE_RED_FLAG})")
        return 1 if worst >= SLOPE_RED_FLAG else 0

    scales = [("/root/testdata/sf0.01", 0.01), (BASE, 0.1), (BIG, 1.0)]
    # Warm JVM + parquet footers at every scale.
    for sf_dir, _ in scales:
        force_eval(qs["q1_pricing_summary"](spark, sf_dir))

    print("| query | sf0.01 s | sf0.1 s | ~sf1 s | slope (0.1→1) |")
    print("|---|---|---|---|---|")
    worst = 0.0
    for name in HEAVY:
        times = [
            min(time_rep(spark, qs[name], sf_dir)[0] for _ in range(REPS))
            for sf_dir, _ in scales
        ]
        top = math.log10(times[2] / times[1])
        worst = max(worst, top)
        print(
            f"| {name} | {times[0]:.2f} | {times[1]:.2f} | {times[2]:.2f} "
            f"| {top:.2f} |"
        )
    print(f"\nworst top-decade slope: {worst:.2f} (red flag at {SLOPE_RED_FLAG})")
    return 1 if worst >= SLOPE_RED_FLAG else 0


if __name__ == "__main__":
    raise SystemExit(main())
