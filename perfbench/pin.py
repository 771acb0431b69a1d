"""Re-take the pinned query fingerprints in ``pins.json``.

    python3 perfbench/pin.py

Generates the benchmark's catalog, checks every benchmarked query against
its DuckDB oracle, evaluates each twice through the hash sink and writes
the fingerprints.  Refuses to write if any query disagrees with its oracle
or gives two different fingerprints.  Run it after a change to the catalog
generator or to ``CATALOG``; an engine change that alters a fingerprint
but still matches the oracle is absorbed at run time, not here.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import prepare

    work = os.path.join(ROOT, ".perfbench", f"pin-{os.getpid()}")
    prepare(work)
    from lms_etl_pipeline_spark import plans
    from perfbench import catalog_data, workloads
    from perfbench.outputs import PINS_PATH, Oracle, hash_sink
    b = workloads.Bench(seed=0, trace=False, work=work)
    try:
        b.start_session()
        data = os.path.join(work, "catalog")
        catalog_data.write_catalog(data, **workloads.CATALOG)
        oracle = Oracle(data, plans.all_oracles(), catalog_data.TABLES)
        queries = plans.all_queries()
        pins, bad = {}, []
        for name in workloads.LAZY_QUERIES + workloads.ITERATIVE_BUILDERS:
            fn = queries[name]
            problem = oracle.mismatch(name, fn(b.spark, data))
            fps = {hash_sink(fn(b.spark, data)).collect()[0]["h"] for _ in range(2)}
            if problem or len(fps) != 1:
                bad.append(problem or f"{name}: fingerprints differ across runs: {fps}")
            else:
                pins[name] = fps.pop()
            print(f"{name}: {bad[-1] if bad and name in bad[-1] else pins[name]}")
        oracle.close()
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(PINS_PATH, "w") as fh:
        json.dump({"data": workloads.CATALOG, "hashes": pins}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
