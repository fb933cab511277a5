#!/usr/bin/env python
"""Round-close gate: one command, exit 0 only when EVERY check passes.

Runs, in order, the three checks a round must close green on — and
FAILS the close if any of them fails, so post-close additions can no
longer silently re-open a gate (the round-6 regression: six queries
added after the close left 9 BroadcastNestedLoopJoin sites unaudited
and the lint sat red in the committed tree while pytest and the sweeps
were green):

1. ``python -m pytest tests/ -q``   — oracle + runtime suite
2. ``python scripts/plan_lint.py``  — plan hygiene incl. the audited-
   BNLJ registry; a new query showing BNLJ lands in REVIEW and RED
3. ``python scripts/driver_sweep.py`` — every registry query vs DuckDB
   on a stock session (pass ``--skip-sweep`` to close faster when the
   sweep already ran this session; the default is the full battery)

Usage: python scripts/close_battery.py [--skip-sweep]
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str]) -> bool:
    t0 = time.time()
    print(f"=== {label}: {' '.join(cmd)}", flush=True)
    rc = subprocess.call(cmd, cwd=ROOT)
    print(f"=== {label}: exit {rc} in {time.time() - t0:.0f}s", flush=True)
    return rc == 0


def main() -> int:
    skip_sweep = "--skip-sweep" in sys.argv[1:]
    checks = [
        ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]),
        ("plan_lint", [sys.executable, "scripts/plan_lint.py"]),
    ]
    if not skip_sweep:
        checks.append(
            ("driver_sweep", [sys.executable, "scripts/driver_sweep.py"])
        )
    failed = [label for label, cmd in checks if not run(label, cmd)]
    if failed:
        print(f"CLOSE RED: {', '.join(failed)}")
        return 1
    print("CLOSE GREEN: all gates passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
