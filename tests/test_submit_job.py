"""The spark-submit deployment surface (jobs/run_pipeline.py): package
shipped as a --py-files zip to a fresh driver + workers (no repo on
sys.path), one JSON result line, bundle written. This is the north-rule
"spark-submit --py-files" path exercised for real — subprocess, not an
in-process session."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _spark_submit() -> str | None:
    import pyspark

    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    if cand.exists():
        return str(cand)
    return shutil.which("spark-submit")


def test_spark_submit_pyfiles_runs_pipeline(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit on this box")

    zip_path = tmp_path / "kgraph_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "kgraph_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    out_dir = tmp_path / "bundle"
    import os

    env = {
        "PATH": "/usr/bin:/bin",
        "HOME": str(tmp_path),
        "JAVA_HOME": os.environ.get("JAVA_HOME", ""),
        # the interpreter that has pyspark installed; kgraph_spark itself
        # must come from --py-files, NOT the repo — so no PYTHONPATH here,
        # and cwd is tmp_path
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(tmp_path / "scratch"),
    }
    proc = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--py-files", str(zip_path),
            "--conf", "spark.driver.memory=4g",
            "--conf", "spark.ui.enabled=false",
            str(REPO / "jobs" / "run_pipeline.py"),
            "--synth", "80",
            "--output", str(out_dir),
            "--shuffle-partitions", "8",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # last JSON-looking stdout line is the result record
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, proc.stdout[-2000:]
    rec = json.loads(lines[-1])
    assert rec["docs"] == 80
    assert rec["triples"] > 0 and rec["entities"] > 0
    assert (out_dir / "manifest.json").exists()
    assert (out_dir / "relationships").exists()

    # the emitted triples must be the same set run_pipeline produces
    # in-process (golden-parity-checked elsewhere) — count-level check here
    manifest = json.loads((out_dir / "manifest.json").read_text())
    assert manifest["counts"]["relationships"] == rec["triples"]


def test_spark_submit_checkpoint_resume(tmp_path):
    """Kill-and-resume through the spark-submit surface: first invocation
    dies after 3 committed extraction shards; rerunning the SAME command
    finishes, and the pre-committed shards are not recomputed (their
    _SUCCESS markers keep their mtime)."""
    import os

    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit on this box")

    zip_path = tmp_path / "kgraph_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for f in sorted((REPO / "kgraph_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))

    ckpt = tmp_path / "ckpt"
    env = {
        "PATH": "/usr/bin:/bin",
        "HOME": str(tmp_path),
        "JAVA_HOME": os.environ.get("JAVA_HOME", ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(tmp_path / "scratch"),
    }

    def run(extra):
        return subprocess.run(
            [
                submit,
                "--master", "local[4]",
                "--py-files", str(zip_path),
                "--conf", "spark.driver.memory=4g",
                "--conf", "spark.ui.enabled=false",
                str(REPO / "jobs" / "run_pipeline.py"),
                "--synth", "80",
                "--output", str(tmp_path / "bundle"),
                "--checkpoint-dir", str(ckpt),
                "--shards", "6",
                "--shuffle-partitions", "8",
                *extra,
            ],
            cwd=tmp_path,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )

    first = run(["--fail-after-shards", "3"])
    assert first.returncode != 0  # the simulated kill propagates
    committed = sorted((ckpt / "extracted").glob("shard=*/_SUCCESS"))
    assert len(committed) == 3
    mtimes = {p: p.stat().st_mtime_ns for p in committed}

    second = run([])
    assert second.returncode == 0, second.stderr[-3000:]
    lines = [ln for ln in second.stdout.splitlines() if ln.startswith("{")]
    rec = json.loads(lines[-1])
    assert rec["docs"] == 80 and rec["triples"] > 0
    # resume skipped the already-committed shards
    for p, m in mtimes.items():
        assert p.stat().st_mtime_ns == m, f"shard recomputed: {p}"
    assert len(sorted((ckpt / "extracted").glob("shard=*/_SUCCESS"))) == 6
    # the relationships table is written once, into the bundle; the job's
    # triple count is the manifest's
    manifest = json.loads((tmp_path / "bundle" / "manifest.json").read_text())
    assert manifest["counts"] == {"relationships": rec["triples"]}
    assert sorted(p.name for p in ckpt.iterdir()) == ["extracted", "lineage", "metrics"]
