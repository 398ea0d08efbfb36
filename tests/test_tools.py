"""The command-line tools: they run against the checkout they live
in, and bench.py prints its one-line record."""

import json
import os
import re
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMALL

ROOT = Path(__file__).resolve().parents[1]

# an absolute path put on sys.path or used as a working directory
_FIXED_ROOT = re.compile(r"""(sys\.path\.insert\(\s*0\s*,|cwd\s*=)\s*[rf]?["']/""")


def test_tools_resolve_their_own_checkout():
    """A tool that imports a fixed checkout grades that checkout, not
    the one it was started from (an A/B against a second copy would
    silently run the same code twice)."""
    offenders = []
    for path in [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]:
        text = path.read_text()
        if str(ROOT) in text or _FIXED_ROOT.search(text):
            offenders.append(path.name)
    assert not offenders


def test_bench_prints_one_record_for_the_keys_given():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMALL, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "bench.py", "q6_forecast_revenue"],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert rec["unit"] == "s"
    assert rec["cpus"] >= 1 and rec["canary_s"] > 0
    assert set(rec["queries"]) == {"q6_forecast_revenue"}
    times = rec["queries"]["q6_forecast_revenue"]
    assert times["cold_s"] > 0 and 0 <= times["build_s"] <= times["warm_s"]
    assert rec["value"] == times["warm_s"]
