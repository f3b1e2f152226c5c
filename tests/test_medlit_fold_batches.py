"""Pass-2 ordered folds must see each group whole.

assign_merge_keys (first-wins merge keys per entity class) and the
distributed path of same_as_ordered_mapping (ordered SAME_AS replay per
component) fold a group in (paper_id, pos) order. Arrow hands a group
larger than spark.sql.execution.arrow.maxRecordsPerBatch to Python in
several batches; folding each batch as if it were the group resets the
first-wins state and the order. The output must not depend on the batch
size."""

from __future__ import annotations

from contextlib import contextmanager

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextmanager
def _batch_size(spark, n: int):
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, str(n))
    try:
        yield
    finally:
        spark.conf.set(BATCH_CONF, old)


def _entities(spark):
    # one entity class, names repeating across papers; rows listed in an
    # order unrelated to (paper_id, pos) so batch order is not fold order
    rows = []
    names = ["BRCA1", "brca1", "TP53", "p53", "EGFR", "BRCA-1", "tp53", "Egfr"]
    for i in range(24):
        paper = f"p{(i * 7) % 5}"
        name = names[(i * 5) % len(names)]
        syns = ["p53"] if name == "TP53" else []
        auth = "HGNC:1100" if i == 17 else None
        rows.append((paper, i % 4, f"e{i}", "Gene", name, syns, auth, None))
    rows.reverse()
    return spark.createDataFrame(
        rows,
        "paper_id string, pos int, local_id string, entity_class string, name string, "
        "synonyms array<string>, auth_id string, cache_cid string",
    )


def test_assign_merge_keys_independent_of_arrow_batch_size(spark):
    from kgraph_spark.operators.medlit_pass2 import assign_merge_keys

    ents = _entities(spark)

    def run():
        return sorted(tuple(r) for r in assign_merge_keys(ents).collect())

    want = run()
    with _batch_size(spark, 2):
        got = run()
    assert got == want
    assigned = [r for r in want if r[1] == "assign"]
    assert len(assigned) == 24
    # first-wins: names equal up to case share one merge key
    name = {r["local_id"]: r["name"].lower() for r in ents.collect()}
    for n in ("brca1", "tp53", "egfr"):
        assert len({r[4] for r in assigned if name[r[3]] == n}) == 1


def test_same_as_distributed_fold_independent_of_arrow_batch_size(spark):
    from kgraph_spark.operators.medlit_pass2 import same_as_ordered_mapping

    # one component, three edges: at 2 records per batch it spans two batches
    rows = [
        ("p1", 0, "prov-aaa", "prov-bbb"),
        ("p1", 1, "prov-bbb", "C0000001"),
        ("p2", 0, "prov-ccc", "prov-aaa"),
    ]
    edges = spark.createDataFrame(
        list(reversed(rows)), "paper_id string, pos int, src string, dst string"
    )

    def run():
        return sorted(
            (r["entity_id"], r["final_id"])
            for r in same_as_ordered_mapping(edges, local_threshold=0).collect()
        )

    want = sorted((r["entity_id"], r["final_id"]) for r in same_as_ordered_mapping(edges).collect())
    assert run() == want
    with _batch_size(spark, 2):
        assert run() == want
