"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced (each run does the oracle
check; the traced run also compares its bundle with the untraced job's) and
checks that the printed metrics are exactly the ones BENCHMARK.json names,
with the same units. Takes a few minutes: each run starts its own Spark
session and pays the first-job cost, whatever the input size.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY_DOCS = {"abstracts": 60, "resume": 80}


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--docs", str(TINY_DOCS[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_workloads_match_spec():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(TINY_DOCS)


@pytest.mark.parametrize("workload", sorted(TINY_DOCS))
@pytest.mark.parametrize("trace", [0, 1])
def test_run(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, result
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(isinstance(v, (int, float)) for v in values.values()), values
    if not trace:
        assert all(v > 0 for v in values.values()), values
    elif workload == "abstracts":
        assert values["relationships.cooc_triples"] == 0
        assert values["lineage.shards_run"] == 0
    else:
        assert values["relationships.cooc_triples"] > 0
        assert (values["lineage.shards_run"], values["lineage.shards_skipped"]) == (1, 3)


def test_bare_directory_fails(tmp_path):
    """Without the program's sources the benchmark exits non-zero and
    prints no result."""
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "abstracts", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
