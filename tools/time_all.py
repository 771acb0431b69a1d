"""Time every catalog query once at $SPARK_GRAFT_SF_DIR (bench sink).

Usage: python tools/time_all.py [pattern]

One rep per query (cold-ish, shared session), sorted by wall time at the
end — a scoping pass to rank optimization targets; re-measure candidates
with tools/time_query.py (multi-rep) before drawing conclusions.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    pat = sys.argv[1] if len(sys.argv) > 1 else ""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from bench import time_rep
    from lms_etl_pipeline_spark.session import get_spark

    spark = get_spark("time_all")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    results: list[tuple[float, str]] = []
    for name, fn in sorted(qs.items()):
        if pat and pat not in name:
            continue
        spark.sparkContext.setJobDescription(name)
        try:
            dt = time_rep(spark, fn, sf_dir)[0]
            results.append((dt, name))
            print(f"{dt:8.3f}  {name}", flush=True)
        except Exception:  # noqa: BLE001 - scoping tool, keep going
            print(f"   ERROR  {name}", flush=True)
            traceback.print_exc(limit=1)
    print("\n== slowest 30 ==")
    for dt, name in sorted(results, reverse=True)[:30]:
        print(f"{dt:8.3f}  {name}")
    print(f"\ntotal {sum(d for d, _ in results):.1f}s over {len(results)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
