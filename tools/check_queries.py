"""Local driver-mimic: run every queries() entry on Spark and its
oracle_sql() on DuckDB, compare row count + column names + order-insensitive
values. Each query runs and collects inside ``materialize.storage_scope``;
a query that leaves persisted RDDs behind afterwards FAILs.

Usage: python tools/check_queries.py [--json OUT.json] [sf_dir] [query ...]

--json writes a machine-readable per-query result map. The driver's
CORRECTNESS attestation caps at 50 queries per round; committing
CHECK_FULL_r{N}.json (this tool, full catalog) each round keeps the
rows outside that window machine-attested (round-4 VERDICT task 3)."""

from __future__ import annotations

import datetime
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from llm_document_parser_spark.materialize import storage_scope
from llm_document_parser_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(repr(_norm(r[i])) for i in order) for r in rows
    )


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}
    spark = get_spark(master="local[8]", app_name="check-queries")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        def fail(msg: str, **extra) -> None:
            failures.append(name)
            results[name] = {"pass": False, "detail": msg[:400], **extra}
            print(f"FAIL {name}: {msg[:400]}")

        before = persisted()
        try:
            with storage_scope():
                sdf = fn(spark, sf_dir)
                srows = [tuple(r) for r in sdf.collect()]
                scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            fail(f"spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        leaked = len(persisted() - before)
        if leaked:
            fail(f"{leaked} persisted RDDs left behind", leaked_rdds=leaked)
            continue
        if name not in oracles:
            results[name] = {"pass": True, "mode": "rows-only", "rows": len(srows)}
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            fail(f"duckdb error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if sorted(scols) != sorted(dcols):
            fail(f"columns {sorted(scols)} vs {sorted(dcols)}")
            continue
        if len(srows) != len(drows):
            fail(f"rowcount {len(srows)} vs {len(drows)}")
            continue
        cs, cd = canon(srows, scols), canon(drows, dcols)
        if cs != cd:
            diff = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
            fail(f"value mismatch; first diffs: {diff}")
            continue
        results[name] = {"pass": True, "mode": "oracle", "rows": len(srows)}
        print(f"PASS {name} ({len(srows)} rows)")
    spark.stop()
    if json_out:
        n_pass = sum(1 for r in results.values() if r["pass"])
        with open(json_out, "w") as f:
            json.dump(
                {
                    "ts": datetime.datetime.now().isoformat(timespec="seconds"),
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_pass": n_pass,
                    "n_fail": len(results) - n_pass,
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
        print(f"wrote {json_out}: {n_pass}/{len(results)} pass")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
