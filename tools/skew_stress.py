"""Measured skew stress: one hot key vs AQE skew-join vs static salting.

SCALING.md's four decades measure *uniform* growth; this tool measures the
orthogonal failure mode — KEY SKEW — under controlled conditions, so the
AQE/salting story (operators/skew.py) rests on numbers, not assertion.

Fixture (synthesized in-memory, deterministic, no files): a fact table of
``N`` rows where ``HOT_FRAC`` of all rows carry ONE key and the rest are
uniform over ``N_KEYS``, joined/aggregated against a uniform dimension.
At the default N=10M / 20% hot, the hot key's shuffle partition holds 2M
rows while the median holds ~100 — the shape that turns a 32-way stage
into a 1-task straggler.

Measured cells (min-of-REPS, full-column hash-sum sink, broadcast joins
disabled so the shuffle actually happens):

- join, AQE skew-split OFF  — the straggler baseline;
- join, AQE skew-split ON   — runtime mitigation (thresholds lowered to
  fire at this fixture's MBs, stated inline: production defaults are
  256 MB / factor 5, this is the same mechanism at demo scale);
- join, static salting      — operators/skew.py `salted_join` (n=32);
- groupBy, plain            — partial aggregation already collapses the
  hot key map-side, so this is expected to be FINE (stated, measured);
- groupBy, salted           — `salted_agg`, the two-stage spread.

Every mitigated result is verified equal to its unmitigated twin (count
+ order-insensitive hash) before its timing is reported.

Usage: python tools/skew_stress.py [N_rows] [hot_frac]
       (defaults 10_000_000 rows, 0.20 hot; SCALING.md also records the
       40_000_000 / 0.50 cell)
       python tools/skew_stress.py --gate
       (preflight mode: reduced N=2M, REPS=1, and the claims are
       verified MECHANICALLY instead of by wall clock — timing at reduced
       N on a loaded box is noise, so the standing regression gate
       asserts (1) mitigated == unmitigated results, (2) AQE's skew
       handling actually SPLIT the hot partition — the executed plan
       carries SortMergeJoin(skew=true) — and (3) the deterministic salt
       provably spreads the hot key to ~1/n per (key, salt) group.
       Exit 1 if any mechanism claim fails.)
Output: a Markdown section for SCALING.md (plus PASS/FAIL in gate mode).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GATE = "--gate" in sys.argv
_args = [a for a in sys.argv[1:] if not a.startswith("--")]
N = int(_args[0]) if _args else (2_000_000 if GATE else 10_000_000)
N_KEYS = 100_000
HOT_FRAC = float(_args[1]) if len(_args) > 1 else 0.20
SALT_N = 32
REPS = 1 if GATE else 2


def result_hash(df) -> int:
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(*df.columns).alias("h"))
        .agg(F.bit_xor("h").alias("x"), F.count("*").alias("n"))
        .collect()[0]
    )
    return (row["x"], row["n"])


def timed(label: str, build, sink) -> float:
    best = float("inf")
    for _ in range(REPS):
        t0 = time.perf_counter()
        sink(build())
        best = min(best, time.perf_counter() - t0)
    print(f"  {label:34s} {best:7.2f} s", flush=True)
    return best


def main() -> int:
    from pyspark.sql import functions as F

    from lms_etl_pipeline_spark.operators.skew import salted_agg, salted_join
    from lms_etl_pipeline_spark.session import get_spark
    from bench import force_eval

    spark = get_spark("skew-stress")
    spark.sparkContext.setLogLevel("ERROR")
    # Force real shuffle joins: the whole point is shuffle distribution.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    hot_rows = int(N * HOT_FRAC)
    fact = (
        spark.range(N)
        .select(
            F.when(F.col("id") < hot_rows, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(N_KEYS)))
            .alias("k"),
            (F.col("id") % 1000).alias("v"),
        )
        .localCheckpoint()  # freeze the fixture: measure the join, not range()
    )
    dim = (
        spark.range(N_KEYS)
        .select(F.col("id").alias("k"), F.xxhash64("id").alias("attr"))
        .localCheckpoint()
    )

    def plain_join():
        return fact.join(dim, "k").select("k", "v", "attr")

    def salt_join():
        return salted_join(fact, dim, ["k"], n=SALT_N).select("k", "v", "attr")

    def plain_agg():
        return fact.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))

    def salt_agg():
        return salted_agg(
            fact, ["k"], {"s": (F.sum("v"), "sum"), "n": (F.count("*"), "sum")},
            n=SALT_N,
        )

    # Equality first: a fast wrong answer is not a mitigation.
    assert result_hash(plain_join()) == result_hash(salt_join()), "salted_join != join"
    assert result_hash(plain_agg()) == result_hash(salt_agg()), "salted_agg != groupBy"
    print(f"fixture: N={N:,} rows, {N_KEYS:,} keys, hot key = {HOT_FRAC:.0%} of rows")
    print("mitigated results verified equal to unmitigated (hash + count)\n")

    def set_skew(enabled: bool) -> None:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(enabled).lower())
        # Production defaults (256 MB / factor 5) never fire at demo MBs;
        # same mechanism, thresholds scaled to the fixture (tighter still
        # at the --gate's reduced N so the split demonstrably fires).
        thr, adv = ("1m", "512k") if GATE else ("4m", "2m")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", thr
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", adv)

    if GATE:
        from lms_etl_pipeline_spark.operators.skew import _stable_salt

        # (2) AQE skew handling actually splits the hot partition: the
        # executed plan must carry the skew marker.
        set_skew(True)
        j = plain_join()
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        skew_fired = "skew=true" in plan or "isSkewJoin=true" in plan
        print(f"gate: AQE skew-split fired in executed plan: {skew_fired}")
        # (3) the deterministic salt spreads the hot key ~uniformly: max
        # (key, salt) group for the hot key <= 2x the ideal hot/n share.
        spread = (
            fact.withColumn("_s", _stable_salt(fact, ["k"], SALT_N))
            .filter(F.col("k") == 0)
            .groupBy("_s")
            .count()
            .agg(F.max("count").alias("mx"), F.count("*").alias("groups"))
            .collect()[0]
        )
        ideal = hot_rows / SALT_N
        print(
            f"gate: hot key spread over {spread.groups} salt groups, "
            f"max {spread.mx} vs ideal {ideal:.0f}"
        )
        ok = skew_fired and spread.groups == SALT_N and spread.mx <= 2 * ideal
        print(f"SKEW GATE {'PASS' if ok else 'FAIL'} "
              "(equality asserts above already passed)")
        return 0 if ok else 1

    results: dict[str, float] = {}
    set_skew(False)
    results["join, AQE skew-split OFF"] = timed(
        "join, AQE skew-split OFF", plain_join, force_eval
    )
    set_skew(True)
    results["join, AQE skew-split ON"] = timed(
        "join, AQE skew-split ON", plain_join, force_eval
    )
    results["join, salted (n=32)"] = timed(
        "join, salted (n=32)", salt_join, force_eval
    )
    set_skew(False)
    results["groupBy, plain"] = timed("groupBy, plain", plain_agg, force_eval)
    results["groupBy, salted (n=32)"] = timed(
        "groupBy, salted (n=32)", salt_agg, force_eval
    )

    base = results["join, AQE skew-split OFF"]
    print("\n| cell | s | vs straggler baseline |")
    print("|---|---|---|")
    for k, v in results.items():
        print(f"| {k} | {v:.2f} | {v / base:.2f}x |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
