"""Self-tests of the benchmark: tiny runs of every workload, the
generator's determinism, and the benchmark's footprint on the checkout.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _snapshot() -> dict[str, tuple[int, int] | None]:
    """Every dir, and (mtime_ns, size) of every file, in the checkout
    outside the benchmark's own work dir."""
    out: dict[str, tuple[int, int] | None] = {}
    work = os.path.join(HERE, ".work")
    for base, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if os.path.join(base, d) != work and d != ".git"]
        out.update((os.path.join(base, d), None) for d in dirs)
        for name in files:
            st = os.lstat(os.path.join(base, name))
            out[os.path.join(base, name)] = (st.st_mtime_ns, st.st_size)
    return out


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_prints_every_metric(workload):
    spec = _spec()
    before = _snapshot()
    for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        proc = _run(workload, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert [m["name"] for m in wanted] == list(result["metrics"])
        for m in wanted:
            got = result["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))
        if trace:
            assert result["metrics"]["error_rate"]["value"] == 0
    # a run leaves nothing behind outside perfbench/.work
    after = _snapshot()
    changed = {p for p in before.keys() | after.keys() if before.get(p, 0) != after.get(p, 0)}
    assert not changed, sorted(changed)[:20]


@pytest.mark.parametrize("kind", sorted(gen.GENERATORS))
def test_generator_is_a_function_of_the_seed(kind, tmp_path):
    a = gen.stage(str(tmp_path / "a"), kind, 7, "tiny")
    b = gen.stage(str(tmp_path / "b"), kind, 7, "tiny")
    c = gen.stage(str(tmp_path / "c"), kind, 8, "tiny")

    def files(d):
        return sorted(
            os.path.relpath(os.path.join(base, f), d)
            for base, _, fs in os.walk(d) for f in fs
        )

    assert files(a) == files(b) == files(c)
    names = [f for f in files(a) if f != "_DONE"]
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch, "a different seed must give different inputs"


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(sorted(WORKLOADS)[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
