#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

This is the deployment surface the design targets (BASELINE north rule:
"run via spark-submit --py-files on a multi-executor cluster"), and the
only job entry in the repository:

    cd /path/to/repo && zip -r /tmp/kgraph_spark.zip kgraph_spark
    spark-submit --master <cluster-master> \
        --py-files /tmp/kgraph_spark.zip \
        jobs/run_pipeline.py \
        --input  /data/documents_parquet \
        --output /data/kg_bundle \
        [--gazetteer /data/gazetteer_parquet] \
        [--checkpoint-dir /data/ckpt] [--shards 64]

The script deliberately sets NO master and no local-mode memory tuning:
spark-submit owns cluster choice and sizing (local[*] / YARN / k8s), and
the package reaches the driver and every Python worker through --py-files
— no repo checkout on the cluster. The shared session settings
(kgraph_spark.session.SESSION_CONF: AQE / Arrow / UTC / broadcast) are
applied as session confs (safe post-submit).

Modes:
  * default        — one-shot: run_pipeline, then write_bundle of all four
    tables (entities, relationships, mentions, evidence) to --output.
  * --checkpoint-dir — resumable: sharded, committed extraction
    (lineage.checkpointed_pipeline); re-running the SAME command after a
    kill recomputes only the missing shards. The checkpoint dir holds
    extracted/ shards, lineage/ and metrics/; --output gets a bundle with
    the relationships table only.

Input table shape (BASELINE input_hint): documents parquet with
(doc_id, spans:array<struct<kind,text,media_ref,offset>>); --synth N
generates the deterministic test corpus instead (no external data).
The gazetteer parquet needs (alias, canonical_id, entity_type,
confidence); it is a broadcast dimension, so it is collected to the
driver — the reference KB dictionaries are a few MB, and anything beyond
broadcast size belongs in the alias-index join path, not here.

Exit: prints ONE JSON line {"docs": N, "triples": N, "entities": N,
"sec": S} on success, with counts from the bundle manifest ("entities" is
null in --checkpoint-dir mode).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_session(app_name: str, shuffle_partitions: int | None):
    from pyspark.sql import SparkSession

    from kgraph_spark.session import SESSION_CONF

    builder = SparkSession.builder.appName(app_name).config(map=SESSION_CONF)
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="documents parquet dir (doc_id, spans[...])")
    src.add_argument("--synth", type=int, metavar="N", help="generate N synthetic docs")
    p.add_argument("--output", required=True, help="bundle output dir")
    p.add_argument("--gazetteer", help="gazetteer parquet (alias, canonical_id, entity_type, confidence); default: built-in vocabulary")
    p.add_argument("--checkpoint-dir", help="enable resumable sharded extraction under this dir")
    p.add_argument("--shards", type=int, default=8, help="extraction shards for --checkpoint-dir")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--fail-after-shards",
        type=int,
        default=None,
        help="TEST HOOK: die after N committed extraction shards (simulates "
        "a killed job; rerun the same command to resume)",
    )
    args = p.parse_args(argv)

    spark = build_session("kgraph-construct", args.shuffle_partitions)
    spark.sparkContext.setLogLevel("WARN")

    from kgraph_spark import synth
    from kgraph_spark.operators.export import write_bundle

    t0 = time.time()
    if args.synth is not None:
        docs = synth.documents_df(spark, args.synth)
        n_docs = args.synth  # known by construction — no extra pass
    else:
        docs = spark.read.parquet(args.input)
        # parquet count() is metadata-only (row-group stats), not a rescan
        n_docs = docs.count()

    if args.gazetteer:
        gaz_rows = [
            (r["alias"], r["canonical_id"], r["entity_type"], r["confidence"])
            for r in spark.read.parquet(args.gazetteer).collect()
        ]
    else:
        gaz_rows = synth.gazetteer_rows()

    if args.checkpoint_dir:
        from kgraph_spark.lineage import checkpointed_pipeline

        manifest = checkpointed_pipeline(
            spark,
            docs,
            gaz_rows,
            args.checkpoint_dir,
            args.output,
            n_shards=args.shards,
            fail_after=args.fail_after_shards,
        )
    else:
        from kgraph_spark.pipeline import run_pipeline

        manifest = write_bundle(run_pipeline(spark, docs, gaz_rows).tables, args.output)
    out = {
        "docs": n_docs,
        "triples": manifest["counts"]["relationships"],
        "entities": manifest["counts"].get("entities"),
        "sec": round(time.time() - t0, 2),
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
