"""Catalog checker and profiler: run every queries() entry on
Spark and its oracle_sql() on DuckDB, compare row count + column names +
order-insensitive values, and record a profile of each Spark run. Each
query builds and collects inside ``materialize.storage_scope``; a query
that leaves persisted RDDs behind afterwards FAILs. The first query also
runs once, untimed, before the loop, so no profile carries the JVM's and
Python workers' start-up.

Usage: python tools/check_queries.py [--json OUT.json] [sf_dir] [query ...]

A query's profile, on its entry in --json, holds:
- ``wall_s``: build + collect, timed by a ``perfbench.trace`` span;
- the ``spark.*`` totals of ``SparkCounters.stage_totals`` over the jobs
  of the span's job group (jobs, tasks, run/CPU/GC time, shuffle, spill,
  input, task skew);
- ``executions``: every SQL execution the query ran, with its executed
  plan and each plan node's SQL metrics (rows, times, sizes), parsed to
  numbers by ``perfbench.trace.parse_metric``.

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
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from llm_document_parser_spark.materialize import storage_scope
from llm_document_parser_spark.session import get_spark
from perfbench.trace import SparkCounters, Span, Tracer, parse_metric

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


class Profiler:
    """Profiles one query at a time from Spark's status store.

    The profile is read right after the query, outside its timed span:
    the UI keeps only the last 1,000 jobs, stages and executions, and an
    iterative query runs dozens of jobs."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tracer = Tracer(spark, enabled=True)
        self.counters = SparkCounters(spark)
        self.last_execution = max((ex["id"] for ex in self._executions()), default=-1)

    def _executions(self) -> list[dict]:
        return self.counters.get("/sql?details=false&planDescription=false&length=100000")

    @contextmanager
    def profile(self, name: str):
        """Time the block as a span named ``name``. The dict it yields is
        filled with the block's profile once it exits, also by raising."""
        prof: dict = {}
        span = self.tracer.begin(name)
        try:
            yield prof
        finally:
            self.tracer.end(span)
            prof.update(self._read(span))

    def _read(self, span: Span) -> dict:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.counters.jobs_by_group().get(span.group, [])
        new = [ex["id"] for ex in self._executions() if ex["id"] > self.last_execution]
        self.last_execution = max(new, default=self.last_execution)
        executions = [
            self.counters.get(f"/sql/{i}?details=true&planDescription=true") for i in new
        ]
        return {
            "wall_s": span.seconds,
            **self.counters.stage_totals(jobs, span.seconds),
            "executions": [
                {
                    "id": ex["id"],
                    "plan": ex["planDescription"],
                    "nodes": [
                        {
                            "id": n["nodeId"],
                            "name": n["nodeName"],
                            "metrics": {
                                m["name"]: parse_metric(m["value"]) for m in n["metrics"]
                            },
                        }
                        for n in ex["nodes"]
                    ],
                }
                for ex in executions
            ],
        }


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}
    spark = get_spark(app_name="check-queries")
    profiler = Profiler(spark)
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
    # the untimed warm-up run; a failure here shows again in the loop
    first = next((n for n in qs if not only or n in only), None)
    if first is not None:
        try:
            with storage_scope():
                qs[first](spark, sf_dir).collect()
        except Exception:  # noqa: BLE001
            pass
    for name, fn in qs.items():
        if only and name not in only:
            continue
        def fail(msg: str, **extra) -> None:
            failures.append(name)
            results[name] = {"pass": False, "detail": msg[:400], **prof, **extra}
            print(f"FAIL {name}: {msg[:400]}")

        before = persisted()
        try:
            with storage_scope(), profiler.profile(name) as prof:
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
            results[name] = {"pass": True, "mode": "rows-only", "rows": len(srows), **prof}
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
        results[name] = {"pass": True, "mode": "oracle", "rows": len(srows), **prof}
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
