"""Measured scaling curves for the headline queries: sf0.001 → sf0.1.

The per-round bench (bench.py) times sf0.1 only; this tool times every
headline query at the three fixture scales — a genuine 100× data range —
and fits the log-log slope, the empirical answer to "would this plan
survive a 100× scale-up?":

- slope ≈ 1  → linear in data (expected for scans/joins/aggs under a
  fixed worker count),
- slope ≪ 1  → fixed overhead dominates at these sizes (planning, JVM),
- slope ≳ 1.3 → superlinear red flag (quadratic stage, driver loop) —
  the tool exits 1 so CI/preflight can gate on it.

Same measurement as bench.py (``bench.time_rep``: full-column hash-sum
sink, fresh builder call per rep), min of REPS runs against the host's
±25% noise.

Usage: python tools/scaling_report.py [--md]   (--md prints a Markdown
table for SCALING.md)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]
REPS = 2
SLOPE_RED_FLAG = 1.3


def main() -> int:
    md = "--md" in sys.argv

    import __spark_entry__ as entrymod
    from bench import HEADLINE, force_eval, time_rep
    from lms_etl_pipeline_spark.session import get_spark

    spark = get_spark("scaling-report")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # Warm JVM + parquet footers at every scale first.
    for sf_dir, _ in SFS:
        force_eval(qs["flagship_regional_revenue"](spark, sf_dir))

    rows = []
    worst = 0.0
    for name in HEADLINE:
        times = []
        for sf_dir, _ in SFS:
            times.append(
                min(time_rep(spark, qs[name], sf_dir)[0] for _ in range(REPS))
            )
        # slope over the top decade (0.01 → 0.1), where fixed overhead is
        # smallest relative to work; full-range slope shown for context.
        top = math.log10(times[2] / times[1])
        full = math.log10(times[2] / times[0]) / 2
        worst = max(worst, top)
        rows.append((name, *times, full, top))

    if md:
        print("| query | sf0.001 s | sf0.01 s | sf0.1 s | slope (full) | slope (top decade) |")
        print("|---|---|---|---|---|---|")
        for name, t1, t2, t3, full, top in rows:
            print(f"| {name} | {t1:.2f} | {t2:.2f} | {t3:.2f} | {full:.2f} | {top:.2f} |")
    else:
        for name, t1, t2, t3, full, top in rows:
            print(f"{name:32s} {t1:6.2f} {t2:6.2f} {t3:6.2f}  full={full:5.2f} top={top:5.2f}")

    print(f"\nworst top-decade slope: {worst:.2f} (red flag at {SLOPE_RED_FLAG})")
    return 1 if worst >= SLOPE_RED_FLAG else 0


if __name__ == "__main__":
    raise SystemExit(main())
