from __future__ import annotations

from pyspark.sql import functions as F

from kgraph_spark.functions.skew import salted_agg, salted_collect_set, salted_count


def test_salted_count_equivalence(spark):
    # skewed: one hot key with 5000 rows, 50 cold keys with 10 each
    hot = spark.range(5000).select(F.lit("hot").alias("k"))
    cold = spark.range(500).select(F.concat(F.lit("c"), (F.col("id") % 50)).alias("k"))
    df = hot.union(cold)
    got = {r["k"]: r["count"] for r in salted_count(df, ["k"]).collect()}
    want = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert got == want


def test_salted_collect_set_equivalence(spark):
    df = spark.range(2000).select(
        F.lit("hot").alias("k"), F.concat(F.lit("d"), (F.col("id") % 300)).alias("doc")
    )
    got = salted_collect_set(df, ["k"], "doc").collect()[0]["docs"]
    want = sorted({f"d{i}" for i in range(300)})
    assert got == want


def test_salted_agg_custom(spark):
    df = spark.range(1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").cast("double").alias("v")
    )
    out = {
        r["k"]: (r["total"], r["mx"])
        for r in salted_agg(
            df,
            ["k"],
            [F.sum("v").alias("_s"), F.max("v").alias("_m")],
            lambda _d: [F.sum("_s").alias("total"), F.max("_m").alias("mx")],
        ).collect()
    }
    want = {
        r["k"]: (r["total"], r["mx"])
        for r in df.groupBy("k").agg(F.sum("v").alias("total"), F.max("v").alias("mx")).collect()
    }
    assert out == want


def test_salted_triple_accumulation_equivalence(spark):
    """accumulate_triples_salted must equal accumulate_triples exactly —
    including the sorted source_documents prefix under a cap smaller than
    the hot pair's distinct-doc count (the per-salt top-k union contains
    the global top-k), the evidence summary, and null-evidence rows."""
    from pyspark.sql import functions as F

    from kgraph_spark.operators.relationships import (
        accumulate_triples,
        accumulate_triples_salted,
    )

    rows = []
    # hot pair: 60 docs, alternating evidence/null, cap will be 10
    for i in range(60):
        rows.append((f"d{i:03d}", "A", "co_occurs_with", "B", 0.6 + (i % 4) * 0.05,
                     None if i % 2 else f"quote {i}"))
    # cold pairs + a self-loop that must drop
    rows += [("d900", "C", "treats", "D", 0.9, "c treats d"),
             ("d901", "C", "treats", "D", 0.8, "c helps d"),
             ("d902", "E", "treats", "E", 0.9, "self")]
    per_doc = spark.createDataFrame(
        rows,
        "doc_id string, subject_id string, predicate string, object_id string, "
        "confidence double, evidence string",
    )

    def key(df):
        out = {}
        for r in df.collect():
            out[(r["subject_id"], r["predicate"], r["object_id"])] = (
                round(r["confidence"], 9),
                tuple(r["source_documents"]),
                r["evidence_count"],
                r["strongest_evidence_quote"],
                None if r["evidence_confidence_avg"] is None
                else round(r["evidence_confidence_avg"], 9),
            )
        return out

    base = key(accumulate_triples(per_doc, max_source_documents=10))
    for n_salts in (1, 4, 16):
        salted = key(accumulate_triples_salted(per_doc, 10, n_salts=n_salts))
        assert salted == base, n_salts
    assert ("E", "treats", "E") not in base
    assert len(base[("A", "co_occurs_with", "B")][1]) == 10  # cap applied
    assert base[("A", "co_occurs_with", "B")][2] == 60       # count exact

    # no-evidence-column input keeps the narrow schema on both paths
    narrow = per_doc.drop("evidence")
    a = accumulate_triples(narrow, 10)
    b = accumulate_triples_salted(narrow, 10, 4)
    assert sorted(a.columns) == sorted(b.columns)


def test_pipeline_salted_accumulation_parity(spark):
    """cfg.accumulate_n_salts must not change the pipeline triple table."""
    from kgraph_spark import synth
    from kgraph_spark.config import PipelineConfig
    from kgraph_spark.operators.mentions import extract_all
    from kgraph_spark.pipeline import run_pipeline_from_extracted

    docs = synth.documents_df(spark, 120)
    gaz = synth.gazetteer_rows()
    gb = spark.sparkContext.broadcast(gaz)
    extracted = extract_all(docs, gb).persist()
    base = run_pipeline_from_extracted(spark, extracted, gaz, persist_intermediates=False)
    salted = run_pipeline_from_extracted(
        spark, extracted, gaz,
        cfg=PipelineConfig(accumulate_n_salts=4),
        persist_intermediates=False,
    )
    k = lambda df: {
        (r["subject_id"], r["predicate"], r["object_id"],
         round(r["confidence"], 9), r["evidence_count"],
         tuple(r["source_documents"]))
        for r in df.collect()
    }
    assert k(base.triples) == k(salted.triples)
    extracted.unpersist()


def test_pipeline_salt_auto_selection(spark):
    """cfg.accumulate_n_salts=None is AUTO (r3 verdict item 8): the salted
    form must engage from the input-size estimate alone — the 100-TB
    default cannot depend on the operator remembering a flag — and both
    decisions must leave the triple table identical."""
    from conftest import plan_text
    from kgraph_spark import synth
    from kgraph_spark.config import PipelineConfig
    from kgraph_spark.operators.mentions import extract_all
    from kgraph_spark.pipeline import run_pipeline_from_extracted

    plan = plan_text

    docs = synth.documents_df(spark, 120)
    gaz = synth.gazetteer_rows()
    gb = spark.sparkContext.broadcast(gaz)
    extracted = extract_all(docs, gb).persist()
    # small input (in-memory slice count << threshold) → single-phase
    small = run_pipeline_from_extracted(
        spark, extracted, gaz,
        cfg=PipelineConfig(salt_auto_min_partitions=1_000_000),
        persist_intermediates=False,
    )
    assert "_salt" not in plan(small.triples)
    # "big" input (threshold forced to 1) → salted two-phase engages
    big = run_pipeline_from_extracted(
        spark, extracted, gaz,
        cfg=PipelineConfig(salt_auto_min_partitions=1),
        persist_intermediates=False,
    )
    assert "_salt" in plan(big.triples)
    # forced off beats auto even above the threshold
    forced_off = run_pipeline_from_extracted(
        spark, extracted, gaz,
        cfg=PipelineConfig(accumulate_n_salts=0, salt_auto_min_partitions=1),
        persist_intermediates=False,
    )
    assert "_salt" not in plan(forced_off.triples)

    k = lambda df: {
        (r["subject_id"], r["predicate"], r["object_id"],
         round(r["confidence"], 9), r["evidence_count"],
         tuple(r["source_documents"]))
        for r in df.collect()
    }
    assert k(small.triples) == k(big.triples) == k(forced_off.triples)
    extracted.unpersist()


def test_estimated_scan_bytes(spark, tmp_path):
    """The AUTO-salt size probe must report on-disk bytes independent of
    the session's maxPartitionBytes (a partition-count proxy silently
    rescaled with bench/test split configs — r4 review), and None for
    in-memory frames."""
    import os

    from kgraph_spark.session import estimated_scan_bytes

    df = spark.range(1000).withColumnRenamed("id", "v")
    assert estimated_scan_bytes(df) is None
    out = str(tmp_path / "t")
    df.write.parquet(out)
    on_disk = sum(
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out) if f.endswith(".parquet")
    )
    got = estimated_scan_bytes(spark.read.parquet(out))
    assert got == on_disk and got > 0


def test_scan_estimates_decode_percent_encoded_paths(spark, tmp_path):
    """inputFiles() percent-encodes local paths (file:/.../my%20corpus/...);
    both scan probes must stat the decoded path rather than take the input
    for a remote store (a remote sentinel skips run_pipeline's repartition
    guard)."""
    import os

    from kgraph_spark.session import estimated_scan_bytes, estimated_scan_partitions

    out = str(tmp_path / "my corpus")
    spark.range(1000).coalesce(1).write.parquet(out)
    df = spark.read.parquet(out)
    assert any("%20" in f for f in df.inputFiles())
    assert estimated_scan_partitions(df) == 1
    on_disk = sum(
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert estimated_scan_bytes(df) == on_disk > 0
