"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The smoke tests start Spark once per workload at the tiny input size,
so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import inputs
from perfbench.model import topics_match
from perfbench.run import WORKLOAD_NAMES

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.mark.parametrize("gen", [inputs.store, inputs.stream, inputs.events])
def test_seed_fixes_the_inputs(gen):
    a = inputs.digest(gen(3, "tiny"))
    assert inputs.digest(gen(3, "tiny")) == a
    assert inputs.digest(gen(4, "tiny")) != a


def test_benchmark_json_follows_its_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOAD_NAMES)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]] + list(WORKLOAD_NAMES)
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in SPEC["workloads"])
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= SPEC["run_seconds"] <= 60 and 2 <= len(SPEC["workloads"]) <= 8
    assert len((ROOT / "BENCHMARK.json").read_bytes()) <= 64 * 1024


def test_every_layer_metric_names_its_target():
    targets = json.loads((BENCH / "targets.json").read_text())
    assert set(targets) == {m["name"] for m in SPEC["per_layer"]}
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    for t in targets.values():
        assert set(t["moves"]) <= e2e and set(t["on"]) <= set(WORKLOAD_NAMES)


@pytest.mark.parametrize("a,b,want", [
    ("a.b.c", "a.b.c", True),
    ("a.b.c", "a.*.c", True),
    ("a.b.c", "a...", True),
    ("a", "a...", True),
    ("a.b", "a.*.c", False),
    ("a.*.c", "a.b...", False),
    ("a.b...", "a.b.c.d", True),
    ("b.c", "a...", False),
])
def test_model_matches_symmetrically(a, b, want):
    assert topics_match(a, b) is want and topics_match(b, a) is want


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_tiny_smoke_run_is_correct_and_names_match(workload):
    """A traced run prints the per-layer metrics as its result and the
    end-to-end ones in its description line."""
    p = _run(ROOT, workload, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    described = json.loads(lines[-2].removeprefix("perfbench: "))
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert described["error_rate"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert set(described["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in described["end_to_end"].values())


def test_fails_without_the_program(tmp_path):
    """With only BENCHMARK.json and the benchmark's files present the
    command exits non-zero without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "store", 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
