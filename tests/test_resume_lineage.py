"""I4 / north-rule resumability: kill mid-stage, rerun, identical output,
committed shards not recomputed; lineage + metrics rows recorded, counts
observed on the shard writes, the relationships table written once (into
the bundle, not the checkpoint)."""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import pytest

from kgraph_spark import synth
from kgraph_spark.lineage import checkpointed_pipeline, read_lineage
from kgraph_spark.pipeline import run_pipeline

N_DOCS = 150


def test_kill_and_resume(spark, tmp_path):
    docs = synth.documents_df(spark, N_DOCS)
    gaz = synth.gazetteer_rows()
    workdir = str(tmp_path / "ckpt")
    bundle = str(tmp_path / "bundle")

    # killed run: simulate failure after 3 of 8 shards
    with pytest.raises(RuntimeError, match="simulated kill after 3 shards"):
        checkpointed_pipeline(spark, docs, gaz, workdir, bundle, n_shards=8, fail_after=3)

    committed = sorted(
        int(p.name.split("=")[1])
        for p in (Path(workdir) / "extracted").glob("shard=*")
        if (p / "_SUCCESS").exists()
    )
    assert len(committed) == 3
    mtimes_before = {
        s: os.path.getmtime(Path(workdir) / "extracted" / f"shard={s}" / "_SUCCESS")
        for s in committed
    }

    time.sleep(1.1)
    # resume: completes remaining shards without touching committed ones
    manifest = checkpointed_pipeline(spark, docs, gaz, workdir, bundle, n_shards=8)
    for s, before in mtimes_before.items():
        after = os.path.getmtime(Path(workdir) / "extracted" / f"shard={s}" / "_SUCCESS")
        assert after == before, f"shard {s} was recomputed on resume"

    # identical output to the non-checkpointed pipeline
    plain = run_pipeline(spark, docs, gaz)
    got = {(r["subject_id"], r["predicate"], r["object_id"], r["confidence"], r["evidence_count"])
           for r in spark.read.parquet(bundle + "/relationships").collect()}
    want = {(r["subject_id"], r["predicate"], r["object_id"], r["confidence"], r["evidence_count"])
            for r in plain.triples.collect()}
    assert got == want
    assert manifest["counts"] == {"relationships": len(want)}
    plain.unpersist()
    # the checkpoint keeps only what a resume reads or an operator audits
    assert sorted(p.name for p in Path(workdir).iterdir()) == ["extracted", "lineage", "metrics"]

    # lineage: one committed row per shard; metrics rows for both stages
    lin = read_lineage(spark, workdir)
    rows = {(r["stage"], r["shard"]): r for r in lin.collect()}
    assert len(rows) == 8
    assert all(r["status"] == "committed" for r in rows.values())
    assert sum(r["n_input_docs"] for r in rows.values()) == N_DOCS
    extracted = spark.read.parquet(str(Path(workdir) / "extracted"))
    on_disk = {r["shard"]: r["count"] for r in extracted.groupBy("shard").count().collect()}
    assert {shard: r["n_output_rows"] for (_stage, shard), r in rows.items()} == on_disk
    metrics = {r["stage"]: r for r in spark.read.parquet(str(Path(workdir) / "metrics")).collect()}
    assert set(metrics) == {"extracted", "triples"}
    assert json.loads(metrics["triples"]["counters_json"]) == {"rows": len(want)}


def test_fail_after_zero_commits_nothing(spark, tmp_path):
    docs = synth.documents_df(spark, 40)
    workdir = tmp_path / "ckpt0"
    with pytest.raises(RuntimeError, match="simulated kill after 0 shards"):
        checkpointed_pipeline(
            spark, docs, synth.gazetteer_rows(), str(workdir), str(tmp_path / "bundle"),
            n_shards=4, fail_after=0,
        )
    assert not list((workdir / "extracted").glob("shard=*"))
    assert not (workdir / "lineage").exists()
    assert not (tmp_path / "bundle").exists()


def test_rerun_is_idempotent(spark, tmp_path):
    docs = synth.documents_df(spark, 60)
    gaz = synth.gazetteer_rows()
    workdir = str(tmp_path / "ckpt2")
    m1 = checkpointed_pipeline(spark, docs, gaz, workdir, str(tmp_path / "b1"), n_shards=4)
    m2 = checkpointed_pipeline(spark, docs, gaz, workdir, str(tmp_path / "b2"), n_shards=4)
    assert m2["counts"] == m1["counts"]
    # second run added no lineage rows (nothing recomputed)
    assert read_lineage(spark, workdir).count() == 4
