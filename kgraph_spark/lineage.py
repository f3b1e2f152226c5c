"""Checkpointed stage execution with per-partition lineage + metrics
(SURVEY.md §2 I4; north_rule: "every stage checkpoints per-partition
progress and lineage/metric rows ... so a killed job resumes without
recomputation").

The reference resumes per paper via skip-if-exists on immutable bundle
files with atomic write-then-rename (examples/medlit/scripts/extract.py:357-359,
CONCURRENCY.md:96-120). The Spark restatement:

  * a stage's input is sharded by a deterministic hash of doc_id
    (pmod(xxhash64(doc_id), n_shards)) — any executor layout produces the
    same shard membership;
  * each shard is one atomic parquet write (Spark's commit protocol =
    write-then-rename; the _SUCCESS marker is the commit record) —
    locally parquet stands in for an Iceberg snapshot commit;
  * resume = skip shards whose commit marker exists — the anti-join on
    committed work, generalized;
  * every shard appends a lineage row (stage, shard, docs, rows, seconds,
    status) and every stage a metrics row — both are append-only tables.

checkpointed_pipeline is what `jobs/run_pipeline.py --checkpoint-dir`
runs: the checkpoint dir holds extracted/ (the committed shards), lineage/
and metrics/; the relationships table is written once, straight into the
job's bundle dir.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "stage string, shard int, n_input_docs long, n_output_rows long, "
    "seconds double, status string, finished_at_unix long"
)


def shard_col(doc_id_col, n_shards: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_shards)).cast("int")


def _append_rows(spark: SparkSession, path: Path, rows: list[tuple], schema: str) -> None:
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(path))


def run_sharded_stage(
    spark: SparkSession,
    stage: str,
    docs: DataFrame,
    fn: Callable[[DataFrame], DataFrame],
    workdir: str,
    n_shards: int = 8,
    fail_after: int | None = None,
    max_concurrent: int = 4,
) -> DataFrame:
    """Run `fn` over doc shards with skip-if-committed resume.

    fn: pure transform documents → stage output (must carry doc_id lineage
    implicitly; determinism is guaranteed by the content-hashed ID scheme).
    fail_after: test hook — commit only the first N pending shards, then
    raise to simulate a killed job.

    Pending shards are submitted CONCURRENTLY from a small driver thread
    pool: Spark's scheduler interleaves the independent write jobs, so
    executors never sit idle between shard commits. Each shard's input and
    output row counts are observed on its own write job (no count jobs),
    and lineage rows are buffered and appended once (concurrent appends to
    one parquet dir race on _temporary). At real scale each shard write is
    an Iceberg snapshot commit and this loop disappears into table commits.

    Returns the stage output DataFrame (reading all committed shards)."""
    out_root = Path(workdir) / stage
    out_root.mkdir(parents=True, exist_ok=True)

    docs = docs.withColumn("_shard", shard_col(F.col("doc_id"), n_shards))
    pending = [
        s for s in range(n_shards) if not (out_root / f"shard={s}" / "_SUCCESS").exists()
    ]  # committed shards skipped — resume = skip-if-exists (I4)
    to_run = pending if fail_after is None else pending[:fail_after]

    lineage_rows: list[tuple] = []

    def _run_one(shard: int) -> None:
        t0 = time.time()
        n_in = Observation(f"{stage}_{shard}_input")
        n_out = Observation(f"{stage}_{shard}_output")
        shard_docs = docs.filter(F.col("_shard") == shard).drop("_shard")
        out = fn(shard_docs.observe(n_in, F.count(F.lit(1)).alias("n")))
        out.observe(n_out, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
            str(out_root / f"shard={shard}")
        )
        lineage_rows.append(
            (stage, shard, n_in.get["n"], n_out.get["n"], round(time.time() - t0, 3),
             "committed", int(time.time()))
        )

    if to_run:
        with ThreadPoolExecutor(max_workers=min(len(to_run), max_concurrent)) as ex:
            list(ex.map(_run_one, to_run))
        _append_rows(spark, Path(workdir) / "lineage", lineage_rows, LINEAGE_SCHEMA)
    if len(to_run) < len(pending):
        raise RuntimeError(f"simulated kill after {len(to_run)} shards")
    return spark.read.parquet(str(out_root))


def write_stage_metrics(spark: SparkSession, workdir: str, stage: str, counters: dict) -> None:
    """G3 stage statistics row → append-only metrics table."""
    path = Path(workdir) / "metrics"
    _append_rows(
        spark,
        path,
        [(stage, json.dumps(counters, sort_keys=True), int(time.time()))],
        "stage string, counters_json string, finished_at_unix long",
    )


def read_lineage(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.parquet(str(Path(workdir) / "lineage"))


def checkpointed_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    gazetteer_rows: list[tuple],
    workdir: str,
    out_dir: str,
    n_shards: int = 8,
    cfg=None,
    fail_after: int | None = None,
) -> dict:
    """Resumable form of pipeline.run_pipeline: the expensive extraction
    pass is sharded + checkpointed under `workdir` (kill → rerun recomputes
    only missing shards); graph construction runs from the committed
    extraction table and its relationships table is one atomic bundle
    write to `out_dir`. `workdir` keeps extracted/, lineage/ and metrics/.

    Returns the bundle manifest."""
    from kgraph_spark.config import PipelineConfig
    from kgraph_spark.operators.export import write_bundle
    from kgraph_spark.operators.mentions import extract_all
    from kgraph_spark.pipeline import run_pipeline_from_extracted

    cfg = cfg or PipelineConfig()
    gaz_bcast = spark.sparkContext.broadcast(gazetteer_rows)
    extracted = run_sharded_stage(
        spark,
        "extracted",
        docs,
        lambda d: extract_all(d, gaz_bcast, cfg),
        workdir,
        n_shards=n_shards,
        fail_after=fail_after,
    )
    write_stage_metrics(spark, workdir, "extracted", {"rows": extracted.count()})
    result = run_pipeline_from_extracted(spark, extracted, gazetteer_rows, cfg)
    manifest = write_bundle({"relationships": result.triples}, out_dir)
    write_stage_metrics(
        spark, workdir, "triples", {"rows": manifest["counts"]["relationships"]}
    )
    return manifest
