"""Preflight gate: a change may not ship unless this exits 0.

Runs, in order, the checks that each independently catch catalog
regressions, and refuses on the first non-zero exit:

1. ``pytest tests/ -q``                — unit/property suite, including the
                                         whole-catalog oracle gate at sf0.001
2. ``pytest perfbench/tests -q``       — the benchmark's own tests: a renamed
                                         or reshaped name it wraps fails here
3. ``pytest tests/ -m slow -q``        — the invariants too slow for the
                                         default run (fuzz/scale sweeps)
4. ``tools/check_oracle.py <sf_dir>``  — full-catalog DuckDB differential
5. ``tools/audit_plans.py <sf_dir>``   — physical-plan scale-red-flag audit
6. ``tools/skew_stress.py --gate``     — skew mitigation: mitigated ==
                                         unmitigated results, AQE skew-split
                                         fires, the salt spreads the hot key

Usage: python tools/preflight.py [sf_dir]   (default /root/testdata/sf0.01)

Also run the full-catalog differential one scale up now and then
(``python tools/check_oracle.py <sf0.1 fixture dir>``): cross-engine
rounding ties need a specific float VALUE to appear in the data, and
bigger fixtures sample more of the value space.
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

STEPS = lambda sf_dir: [  # noqa: E731
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]),
    ("perfbench_tests", [sys.executable, "-m", "pytest", "perfbench/tests", "-q"]),
    ("slow_tests", [sys.executable, "-m", "pytest", "tests/", "-m", "slow", "-q"]),
    ("check_oracle", [sys.executable, "tools/check_oracle.py", sf_dir]),
    ("audit_plans", [sys.executable, "tools/audit_plans.py", sf_dir]),
    ("skew_gate", [sys.executable, "tools/skew_stress.py", "--gate"]),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    t0 = time.time()
    for name, cmd in STEPS(sf_dir):
        print(f"== preflight: {name} ==", flush=True)
        t = time.time()
        rc = subprocess.call(cmd, cwd=str(Path(__file__).resolve().parents[1]))
        print(f"== {name}: {'OK' if rc == 0 else f'FAILED rc={rc}'} "
              f"({time.time() - t:.1f}s) ==", flush=True)
        if rc != 0:
            print(f"PREFLIGHT FAILED at {name} after {time.time() - t0:.1f}s")
            return rc
    print(f"PREFLIGHT PASS ({time.time() - t0:.1f}s, sf_dir={sf_dir})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
