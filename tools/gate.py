#!/usr/bin/env python
"""The exactness ratchet: ONE command that fails the build on any oracle
miss, at BOTH scales, plus the plan audit and the pytest suite.

The driver's per-round CORRECTNESS gate samples ~50 of the registry
queries; everything else rides on this local gate — run it before landing
any operator change so every round's driver sample is drawn from a
fully-green pool (VERDICT r3 "Next round" #7).

Usage:
    python tools/gate.py            # oracles @ sf0.01 + sf0.1, plan audit, job resume
    python tools/gate.py --full     # also the full pytest suite
    python tools/gate.py --quick    # oracles @ sf0.01 only

Exit code: 0 iff every stage passed.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

# the script dir (tools/) is what Python puts on sys.path — the repo
# root, where __spark_entry__ lives, must be added explicitly
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES_DEFAULT = [
    ("oracles sf0.01", [sys.executable, "tools/check_oracles.py", "/root/testdata/sf0.01"]),
    ("oracles sf0.1", [sys.executable, "tools/check_oracles.py", "/root/testdata/sf0.1"]),
    ("plan audit", [sys.executable, "tools/audit_plans.py", "/root/testdata/sf0.001"]),
    # the shipped job's exactly-once resume contract (about two minutes)
    ("job resume", [sys.executable, "-m", "pytest", "tests/test_submit.py", "-q", "-k", "by_day or resume"]),
]


def registry_count() -> int:
    """The one true query count, straight from the registry — printed so
    docs can't drift from it again (r4 said 220 while the registry held
    219)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    osql = entry.oracle_sql()
    print(f"registry: {len(qs)} queries, {len(osql)} oracles", flush=True)
    return len(qs)


def main(argv: list[str]) -> int:
    registry_count()
    stages = list(STAGES_DEFAULT)
    if "--quick" in argv:
        stages = [stages[0]]
    if "--full" in argv:
        stages.append(
            ("pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"])
        )
    failed = []
    for name, cmd in stages:
        t0 = time.time()
        print(f"=== gate: {name} ===", flush=True)
        rc = subprocess.run(cmd).returncode
        print(f"=== gate: {name} -> {'OK' if rc == 0 else f'FAIL rc={rc}'} "
              f"({time.time() - t0:.0f}s) ===", flush=True)
        if rc != 0:
            failed.append(name)
    if failed:
        print(f"GATE FAILED: {failed}", flush=True)
        return 1
    print("GATE GREEN: all stages passed", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
