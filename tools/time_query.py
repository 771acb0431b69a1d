"""Time catalog queries one rep at a time with the bench sink.

Usage: python tools/time_query.py <query> [<query> ...] [--reps N]

Times each named query exactly the way bench.py does (``bench.time_rep``:
full-column hash-sum sink, fresh builder call per rep) on
$SPARK_GRAFT_SF_DIR, printing every rep's wall and in-job seconds and its
job count, so warm-up, noise and steady state are visible separately.
Labels jobs for the UI.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("queries", nargs="+", metavar="query")
    p.add_argument("--reps", type=int, default=4)
    args = p.parse_intermixed_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from bench import time_rep
    from lms_etl_pipeline_spark.session import get_spark

    spark = get_spark("time_query")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    for name in args.queries:
        fn = qs[name]
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            wall, job_s, n_jobs = time_rep(spark, fn, sf_dir)
            print(
                f"{name} rep{rep}: wall={wall:.3f}s exec={job_s:.3f}s jobs={n_jobs}",
                flush=True,
            )
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
