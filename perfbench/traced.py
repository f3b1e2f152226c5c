"""Traced run: the deployment job's composition re-stated layer by layer.

``jobs/run_pipeline.main`` runs ``pipeline.run_pipeline`` + ``write_bundle``
(one-shot) or ``lineage.checkpointed_pipeline`` + ``write_bundle``
(``--checkpoint-dir``). The functions below call the same public layer
functions in the same order, but materialize each layer's output inside a
span so that its time and row counts are attributable. The bundle they
write must equal the untraced job's; when ``pipeline.py`` changes its
composition and this mirror is not updated, that comparison fails.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """Spans kept in memory; one run id per traced job."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time child spans cover."""
        out: dict[str, float] = {}
        for r in self.as_records():
            out[r["name"]] = out.get(r["name"], 0.0) + r["self_s"]
        return out

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def as_records(self) -> list[dict]:
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id, "self_s": s.end - s.start - child_time[i]}
            for i, s in enumerate(self.spans)
        ]


def _materialize(df, cached: list):
    """Persist and count: the layer's work happens here, inside its span."""
    df = df.persist()
    cached.append(df)
    return df, df.count()


def _graph(spark, tr: Tracer, extracted, gaz_rows, cfg, cached: list) -> dict:
    """Mirror of pipeline.run_pipeline_from_extracted (default config)."""
    from kgraph_spark.operators import canonicalize, export, relationships, resolve
    from kgraph_spark.operators.mentions import (
        mentions_from_extracted,
        presence_from_extracted,
        relations_from_extracted,
    )
    from kgraph_spark.session import estimated_scan_bytes

    if cfg.evidence_validation or not cfg.cooc_dict_encode:
        raise RuntimeError("traced run mirrors the default PipelineConfig only")

    alias_index = resolve.alias_index_df(spark, gaz_rows)
    spec = relationships.predicate_spec_df(spark)
    with tr.span("resolve.mentions"):
        mentions, n_mentions = _materialize(
            resolve.resolve_mentions(mentions_from_extracted(extracted), alias_index), cached
        )
    with tr.span("resolve.relations"):
        resolved_rel, n_resolved = _materialize(
            resolve.resolve_relation_endpoints(relations_from_extracted(extracted), alias_index),
            cached,
        )
    with tr.span("canonicalize.merge_mapping"):
        edges, n_edges = _materialize(relationships.same_as_edges(resolved_rel, cfg), cached)
        mapping, n_mapping = _materialize(
            canonicalize.merge_mapping(edges, cfg.cc_max_iterations), cached
        )
    with tr.span("canonicalize.apply_merge"):
        merged_mentions, _ = _materialize(
            canonicalize.apply_merge(mentions, mapping, "entity_id"), cached
        )
    with tr.span("relationships.validate"):
        validated, n_validated = _materialize(
            relationships.validate_relations(resolved_rel, spec), cached
        )
    with tr.span("canonicalize.apply_merge"):
        validated, _ = _materialize(
            canonicalize.apply_merge(validated, mapping, "subject_id", "object_id"), cached
        )
    with tr.span("resolve.presence"):
        presence, n_presence = _materialize(
            resolve.resolve_mentions(presence_from_extracted(extracted), alias_index), cached
        )
    with tr.span("canonicalize.apply_merge"):
        presence, _ = _materialize(
            canonicalize.apply_merge(presence, mapping, "entity_id"), cached
        )
    with tr.span("relationships.cooc"):
        acc_cooc, n_cooc = _materialize(
            relationships.cooccurrence_accumulated(presence, cfg, cfg.max_source_documents),
            cached,
        )
    with tr.span("relationships.accumulate"):
        nbytes = estimated_scan_bytes(extracted)
        if nbytes is not None:
            big = nbytes >= cfg.salt_auto_min_input_bytes
        else:
            big = extracted.rdd.getNumPartitions() >= cfg.salt_auto_min_partitions
        n_salts = cfg.accumulate_n_salts
        if n_salts is None:
            n_salts = cfg.auto_n_salts if big else 0
        appear = relationships.appears_in_triples(merged_mentions, cfg)
        no_quote = F.lit(None).cast("string").alias("evidence")
        per_doc = validated.select(
            "doc_id", "subject_id", "predicate", "object_id", "confidence", "evidence"
        ).unionByName(appear.select("*", no_quote))
        per_doc, n_per_doc = _materialize(relationships.symmetric_order(per_doc, spec), cached)
        if n_salts:
            acc = relationships.accumulate_triples_salted(per_doc, cfg.max_source_documents, n_salts)
        else:
            acc = relationships.accumulate_triples(per_doc, cfg.max_source_documents)
        triples, n_triples = _materialize(
            acc.unionByName(
                acc_cooc.withColumn("evidence_confidence_avg", F.lit(None).cast("double"))
                .withColumn("strongest_evidence_quote", F.lit(None).cast("string"))
            ),
            cached,
        )
    tr.counts.update({
        "canonicalize.edges": n_edges,
        "canonicalize.mapping_rows": n_mapping,
        "relationships.validate_keep_ratio": n_validated / n_resolved if n_resolved else 0.0,
        "relationships.cooc_presence_rows": n_presence,
        "relationships.cooc_triples": n_cooc,
        "relationships.accumulate_rows_in": n_per_doc,
        "relationships.accumulate_rows_out": n_triples,
    })

    entities = export.entities_table(
        merged_mentions, cfg.promotion,
        max_supporting_documents=cfg.max_supporting_documents,
        max_synonyms=cfg.max_synonyms,
    ).unionByName(
        export.tombstone_entities(
            mentions, mapping,
            max_supporting_documents=cfg.max_supporting_documents,
            max_synonyms=cfg.max_synonyms,
        )
    )
    evidence = export.evidence_table(
        relationships.symmetric_order(
            validated.select(
                "doc_id", "subject_id", "predicate", "object_id", "confidence", "evidence"
            ),
            spec,
        )
    )
    # entities and evidence stay lazy: their export span materializes them
    return {"triples": triples, "entities": entities, "mentions": merged_mentions,
            "evidence": evidence, "resolved_mentions": mentions, "n_mentions": n_mentions}


def _resolution_ratio(tr: Tracer, g: dict) -> None:
    """Mentions resolved to an authoritative id / mentions."""
    from kgraph_spark.operators.canonicalize import is_authoritative_col

    n_canonical = g["resolved_mentions"].filter(is_authoritative_col(F.col("entity_id"))).count()
    n = g["n_mentions"]
    tr.counts["resolve.canonical_ratio"] = n_canonical / n if n else 0.0


def _bytes_under(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _read_inputs(spark, docs_dir: Path, gaz_dir: Path):
    """main()'s input handling: documents scan + count, gazetteer collect."""
    docs = spark.read.parquet(str(docs_dir))
    docs.count()
    gaz_rows = [
        (r["alias"], r["canonical_id"], r["entity_type"], r["confidence"])
        for r in spark.read.parquet(str(gaz_dir)).collect()
    ]
    return docs, gaz_rows


def traced_oneshot(spark, tr: Tracer, docs_dir: Path, gaz_dir: Path, out: Path) -> None:
    """Mirror of main() without --checkpoint-dir: run_pipeline + write_bundle."""
    from kgraph_spark.config import PipelineConfig
    from kgraph_spark.operators import export
    from kgraph_spark.operators.export import write_bundle
    from kgraph_spark.operators.mentions import extract_all
    from kgraph_spark.session import scan_partitions_or_slices

    cfg = PipelineConfig()
    cached: list = []
    try:
        with tr.span("job"):
            docs, gaz_rows = _read_inputs(spark, docs_dir, gaz_dir)
            gaz_bcast = spark.sparkContext.broadcast(gaz_rows)
            target = spark.sparkContext.defaultParallelism * 3
            if scan_partitions_or_slices(docs) < target:
                docs = docs.repartition(target)
            with tr.span("mentions.extract"):
                extracted, _ = _materialize(extract_all(docs, gaz_bcast, cfg), cached)
            g = _graph(spark, tr, extracted, gaz_rows, cfg, cached)
            with tr.span("export.entities"):
                entities, _ = _materialize(g["entities"], cached)
            with tr.span("export.write_bundle"):
                write_bundle(
                    {"entities": entities, "relationships": g["triples"],
                     "mentions": export.mentions_table(g["mentions"]),
                     "evidence": g["evidence"]},
                    str(out),
                )
        _extraction_counts(tr, extracted)
        _resolution_ratio(tr, g)
        tr.counts["export.bytes_written"] = _bytes_under(out)
    finally:
        for df in cached:
            df.unpersist()


def traced_resume(spark, tr: Tracer, docs_dir: Path, gaz_dir: Path, ckpt: Path,
                  out: Path, n_shards: int) -> None:
    """Mirror of main() with --checkpoint-dir: checkpointed_pipeline +
    write_bundle of the relationships table."""
    from kgraph_spark.config import PipelineConfig
    from kgraph_spark.lineage import run_sharded_stage, write_stage_metrics
    from kgraph_spark.operators.export import write_bundle
    from kgraph_spark.operators.mentions import extract_all

    cfg = PipelineConfig()
    stage_dir = ckpt / "extracted"
    skipped = sum(
        (stage_dir / f"shard={s}" / "_SUCCESS").exists() for s in range(n_shards)
    )
    cached: list = []
    try:
        with tr.span("job"):
            docs, gaz_rows = _read_inputs(spark, docs_dir, gaz_dir)
            gaz_bcast = spark.sparkContext.broadcast(gaz_rows)
            with tr.span("lineage.stage"):
                extracted = run_sharded_stage(
                    spark, "extracted", docs, lambda d: extract_all(d, gaz_bcast, cfg),
                    str(ckpt), n_shards=n_shards,
                )
                write_stage_metrics(spark, str(ckpt), "extracted", {"rows": extracted.count()})
            with tr.span("lineage.graph"):
                g = _graph(spark, tr, extracted, gaz_rows, cfg, cached)
                triples_dir = ckpt / "triples"
                g["triples"].write.mode("overwrite").parquet(str(triples_dir))
                write_stage_metrics(
                    spark, str(ckpt), "triples",
                    {"rows": spark.read.parquet(str(triples_dir)).count()},
                )
                triples = spark.read.parquet(str(triples_dir))
            with tr.span("export.write_bundle"):
                write_bundle({"relationships": triples}, str(out))
                triples.count()  # main() reports the triple count
        _extraction_counts(tr, extracted)
        _resolution_ratio(tr, g)
        tr.counts.update({
            "lineage.shards_run": n_shards - skipped,
            "lineage.shards_skipped": skipped,
            "export.bytes_written": _bytes_under(out),
        })
    finally:
        for df in cached:
            df.unpersist()


def _extraction_counts(tr: Tracer, extracted) -> None:
    by_kind = {r["kind"]: r["count"] for r in extracted.groupBy("kind").count().collect()}
    for kind in ("m", "p", "r"):
        tr.counts[f"mentions.rows_{kind}"] = by_kind.get(kind, 0)
