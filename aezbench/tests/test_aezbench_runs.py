"""Slow self-tests: whole benchmark runs (a Spark session each, ~1-2 min).

    python3 -m pytest aezbench/tests -q -p no:cacheprovider
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "aezbench/run.py", "--workload", "docs_clustered",
         "--seed", "101", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=400)


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_run_prints_every_metric_by_name(trace, key):
    p = _run(trace)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    spec = _bench()[key]
    assert set(last["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]


def test_run_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "aezbench"), tmp_path / "aezbench",
                    ignore=shutil.ignore_patterns("work", "__pycache__"))
    p = _run(0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
