"""One-command full verification: correctness gate (sf0.01) + pytest
+ plan audit + bench. Exit code 0 only if everything is green.

Usage: python tools/run_all.py [--fast]   (--fast skips bench)
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STEPS = [
    ("gate", [sys.executable, "tools/check_correctness.py", "/root/testdata/sf0.01"]),
    ("tests", [sys.executable, "-m", "pytest", "tests/", "-q"]),
    ("audit", [sys.executable, "tools/explain_audit.py"]),
    ("bench", [sys.executable, "bench.py"]),
]


def main() -> int:
    fast = "--fast" in sys.argv
    rc = 0
    for name, cmd in STEPS:
        if fast and name == "bench":
            continue
        print(f"==== {name}: {' '.join(cmd[1:])}")
        r = subprocess.run(cmd, cwd=ROOT)
        if r.returncode != 0:
            print(f"==== {name} FAILED (exit {r.returncode})")
            rc = 1
    print("==== ALL GREEN" if rc == 0 else "==== FAILURES above")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
