"""Benchmark inputs and their oracle.

Every workload is a pure function of (name, seed, size): documents come from
``kgraph_spark.synth`` under the workload seed and are written as the
parquet tables the deployment job reads (documents + gazetteer). The
program under test sees only those files. The expected output comes from
the pure-Python oracle ``kgraph_spark.golden.run_golden`` over the same
documents, and ``check_bundle`` compares a written bundle against it.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# default sizes (input documents); sized so one run of a workload fits the
# benchmark's time budget on a 4-vCPU machine
SIZES = {"abstracts": 2000, "resume": 400}

ABSTRACT_SPANS = 3  # < cooccur_window (5): co-occurrence yields no windows
# the killed submission commits 3 of 4 shards: every shard is one more Spark
# job in each run's killed submission, and 8 left the run budget no room for
# the warm-up job on abstracts
RESUME_SHARDS = 4
RESUME_KILL_AFTER = 3

_SPAN = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)
_DOCS = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])
_GAZ = pa.schema(
    [("alias", pa.string()), ("canonical_id", pa.string()),
     ("entity_type", pa.string()), ("confidence", pa.float64())]
)
# predicates whose triples carry no evidence quote (not pattern relations)
_UNQUOTED = ("appears_in", "co_occurs_with")


@dataclass
class Expected:
    """Oracle output reduced to what the bundle check compares."""

    triples: dict[tuple[str, str, str], tuple[float, int]]  # (s,p,o) -> (confidence, evidence_count)
    entities: int
    mentions: int
    evidence: int


def make_documents(workload: str, seed: int, n_docs: int) -> list[dict]:
    """Synthetic documents for a workload, deterministic in (seed, n_docs)."""
    from kgraph_spark import synth

    vocab = synth.build_vocabulary(seed)
    docs = [synth.make_document(i, vocab, seed) for i in range(n_docs)]
    if workload == "abstracts":
        # short documents: the first few text spans of each synth doc
        return [
            {"doc_id": d["doc_id"],
             "spans": [s for s in d["spans"] if s[0] == "text"][:ABSTRACT_SPANS]}
            for d in docs
        ]
    if workload == "resume":
        return docs  # the default synth mix, hot entity included
    raise ValueError(f"unknown workload {workload!r}")


def write_inputs(docs: list[dict], seed: int, workdir: Path) -> tuple[Path, Path]:
    """Write the documents and the seed's gazetteer as parquet tables."""
    from kgraph_spark import synth

    docs_dir, gaz_dir = workdir / "documents", workdir / "gazetteer"
    docs_dir.mkdir(parents=True)
    gaz_dir.mkdir(parents=True)
    keys = ("kind", "text", "media_ref", "offset")
    table = pa.table(
        {"doc_id": [d["doc_id"] for d in docs],
         "spans": [[dict(zip(keys, s)) for s in d["spans"]] for d in docs]},
        schema=_DOCS,
    )
    pq.write_table(table, docs_dir / "part-00000.parquet")
    rows = synth.gazetteer_rows(seed)
    pq.write_table(
        pa.table([list(col) for col in zip(*rows)], schema=_GAZ),
        gaz_dir / "part-00000.parquet",
    )
    return docs_dir, gaz_dir


def expected_output(docs: list[dict], seed: int) -> Expected:
    from kgraph_spark import synth
    from kgraph_spark.golden import run_golden

    g = run_golden(docs, synth.build_vocabulary(seed)["gazetteer"])
    triples = {k: (v["confidence"], v["evidence_count"]) for k, v in g["triples"].items()}
    return Expected(
        triples=triples,
        entities=len(g["entities"]),
        mentions=sum(len(ms) for ms in g["mentions"].values()),
        evidence=sum(n for (_s, p, _o), (_c, n) in triples.items() if p not in _UNQUOTED),
    )


def read_relationships(bundle: Path) -> dict[tuple[str, str, str], dict]:
    """Bundle ``relationships`` table keyed by (s, p, o)."""
    rows = pq.read_table(bundle / "relationships").to_pylist()
    return {(r["subject_id"], r["predicate"], r["object_id"]): r for r in rows}


def check_bundle(bundle: Path, exp: Expected, relationships_only: bool = False) -> list[str]:
    """Compare a bundle with the oracle; returns mismatch descriptions.

    relationships: exact triple set, confidence and evidence_count.
    entities / mentions / evidence: row counts (skipped for a bundle that
    holds relationships only, as the resumable job writes)."""
    errors: list[str] = []
    got = read_relationships(bundle)
    missing, extra = exp.triples.keys() - got.keys(), got.keys() - exp.triples.keys()
    if missing or extra:
        errors.append(
            f"triple set: {len(missing)} missing (e.g. {sorted(missing)[:2]}), "
            f"{len(extra)} extra (e.g. {sorted(extra)[:2]})"
        )
    bad = [
        k for k in exp.triples.keys() & got.keys()
        if (got[k]["confidence"], got[k]["evidence_count"]) != exp.triples[k]
    ]
    if bad:
        k = sorted(bad)[0]
        errors.append(
            f"{len(bad)} triples differ in confidence/evidence_count, e.g. {k}: "
            f"got ({got[k]['confidence']}, {got[k]['evidence_count']}) want {exp.triples[k]}"
        )
    if not relationships_only:
        for table, want in (("entities", exp.entities), ("mentions", exp.mentions),
                            ("evidence", exp.evidence)):
            n = _count_rows(bundle / table)
            if n != want:
                errors.append(f"{table}: {n} rows, oracle {want}")
    return errors


def _count_rows(table_dir: Path) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in sorted(table_dir.glob("*.parquet")))


def same_bundle(a: Path, b: Path, tables: tuple[str, ...]) -> list[str]:
    """Row-level equality of two bundles (order-insensitive)."""
    errors = []
    for t in tables:
        ra = sorted(map(repr, (_canon(r) for r in pq.read_table(a / t).to_pylist())))
        rb = sorted(map(repr, (_canon(r) for r in pq.read_table(b / t).to_pylist())))
        if ra != rb:
            diff = len(set(ra) ^ set(rb))
            errors.append(f"{t}: {len(ra)} vs {len(rb)} rows, {diff} differ")
    return errors


def _canon(row: dict) -> tuple:
    """Row as a comparable tuple: arrays sorted, floats to 12 significant
    digits (averages may sum in a different order between plans)."""
    out = []
    for k in sorted(row):
        v = row[k]
        if isinstance(v, list):
            v = tuple(sorted(v, key=repr))
        elif isinstance(v, float):
            v = float(f"{v:.12g}")
        out.append((k, v))
    return tuple(out)
