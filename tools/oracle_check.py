"""Per-query driver-oracle mirror: run named __spark_entry__ queries
against their DuckDB oracles at one or more SF dirs and report
rows/schema/value-hash match — the same comparison shape the driver
applies (columns sorted by name, floats rounded to 9).

Usage: python tools/oracle_check.py q1 q2 ... [--sf /root/testdata/sf0.001 ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from kgraph_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                # No signed-zero normalization here: the driver's hash does
                # not normalize -0.0, so the mirror must not be more lenient.
                # Queries themselves normalize (`+ 0.0` after round).
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def main() -> int:
    args = sys.argv[1:]
    sfs = []
    names = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            sfs.append(next(it))
        else:
            names.append(a)
    if not sfs:
        sfs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    spark = get_spark("oracle_check", parallelism=8, shuffle_partitions=8)
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    bad = 0
    for sf in sfs:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for name in names:
            try:
                sdf = qs[name](spark, sf)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
                rel = con.sql(os_[name])
                dcols = [d[0] for d in rel.description]
                drows = rel.fetchall()
                schema_ok = sorted(scols) == sorted(dcols)
                rows_ok = len(srows) == len(drows)
                sn, dn = norm_rows(scols, srows), norm_rows(dcols, drows)
                hash_ok = sn == dn
                status = "MATCH" if (schema_ok and rows_ok and hash_ok) else "FAIL"
                print(f"{sf.rsplit('/',1)[-1]} {name}: {status} "
                      f"(rows {len(srows)}/{len(drows)}, schema={schema_ok}, "
                      f"hash={hash_ok})")
                if status == "FAIL":
                    bad += 1
                    if not schema_ok:
                        print("  spark cols:", scols, "\n  duck cols: ", dcols)
                    for a_, b_ in list(zip(sn, dn))[:4]:
                        if a_ != b_:
                            print("  spark:", a_, "\n  duck: ", b_)
            except Exception as exc:  # noqa: BLE001
                bad += 1
                print(f"{sf} {name}: ERROR {exc}")
        con.close()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
