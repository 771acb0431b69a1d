"""Time catalog queries one rep at a time with the bench sink.

Usage: python tools/time_query.py [<query> ...] [--reps N]

Times each named query exactly the way bench.py does (``bench.time_rep``:
full-column hash-sum sink, fresh builder call per rep) on
$SPARK_GRAFT_SF_DIR, printing every rep's wall and in-job seconds and its
job count, so warm-up, noise and steady state are visible separately.
With no query names it sweeps the whole catalog (one rep per query unless
``--reps`` says otherwise): a scoping pass to rank optimization targets.
A query that raises is reported and skipped, and the exit status is 1;
a sweep ends with the slowest 30 queries by best wall time.
Labels jobs for the UI.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("queries", nargs="*", metavar="query")
    p.add_argument("--reps", type=int, help="reps per query (default 4, sweep 1)")
    args = p.parse_intermixed_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from bench import time_rep
    from lms_etl_pipeline_spark.session import get_spark

    spark = get_spark("time_query")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = args.queries or sorted(qs)
    reps = args.reps or (4 if args.queries else 1)

    best: list[tuple[float, str]] = []
    failed: list[str] = []
    for name in names:
        walls = []
        try:
            for rep in range(reps):
                spark.sparkContext.setJobDescription(f"{name} rep{rep}")
                wall, job_s, n_jobs = time_rep(spark, qs[name], sf_dir)
                walls.append(wall)
                print(
                    f"{name} rep{rep}: wall={wall:.3f}s exec={job_s:.3f}s jobs={n_jobs}",
                    flush=True,
                )
            best.append((min(walls), name))
        except Exception:  # noqa: BLE001 - keep timing the rest
            failed.append(name)
            print(f"{name}: ERROR", flush=True)
            traceback.print_exc(limit=1)
        finally:
            spark.sparkContext.setJobDescription(None)

    if not args.queries:
        print("\n== slowest 30 (best wall) ==")
        for dt, name in sorted(best, reverse=True)[:30]:
            print(f"{dt:8.3f}  {name}")
        print(f"\ntotal {sum(d for d, _ in best):.1f}s over {len(best)} queries, "
              f"{len(failed)} failed {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
