"""Benchmark entry point.

    python3 perfbench/run.py --workload iterative_builders --seed 1 --seconds 20 --trace 0

Run from the repository root.  Prints a detail line, then as the last line
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Everything the run writes goes under
``.perfbench/`` in the repository root; its scratch directory is removed
at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402 - the clock above starts set-up time
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_DIR = os.path.join(ROOT, "lms_etl_pipeline_spark")


def prepare(work: str) -> None:
    """Create the run's scratch directory and the environment Spark and its
    Python workers start from: the engine and the benchmark's sqlite
    connection factory importable, shuffle and temp files inside ``work``,
    one core per task slot, UTC."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TZ"] = "UTC"
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=("iterative_builders", "etl_upsert"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_DIR, "__init__.py")):
        print(f"engine package not found at {ENGINE_DIR}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare(work)
    from perfbench import workloads

    try:
        result, detail = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work, T_PROCESS
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
