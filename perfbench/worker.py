"""One benchmark run: set up, time, check and report one workload.

Started by perfbench/run.py, which gives it a fresh process (so a fresh
``local[$(nproc)]`` JVM) and the environment from ``run.child_env``. The
run has four phases:

1. set-up (timed as ``setup_s``): start Spark, write the generated inputs,
   warm up with untimed passes;
2. the timed loop: passes of the workload until ``--seconds`` have gone by,
   each pass a closed loop over the same input (the next operation starts
   when the previous one has committed);
3. output checks (untimed), see checks.py;
4. with ``--trace 1`` only: a pass with spans and Spark job groups between
   two untraced ones, the layer probes, and the Spark counters read back
   per span.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "jobs")]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import curate_job  # noqa: E402
from llm_document_parser_spark import datagen  # noqa: E402
from llm_document_parser_spark.lineage import (  # noqa: E402
    committed_row_total,
    run_with_lineage,
)
from llm_document_parser_spark.pipeline import extract_pipeline  # noqa: E402
from llm_document_parser_spark.session import get_spark  # noqa: E402
from llm_document_parser_spark.streaming.ingest import start_extract_stream  # noqa: E402
from perfbench import checks, layers  # noqa: E402
from perfbench.trace import SparkCounters, Tracer  # noqa: E402

# Input sizes and job settings. Each is fixed so that every run of a
# workload does the same work; they are sized so that a run with its
# set-up fits the benchmark's per-run time budget on a 4-core host.
EXTRACT_PAGES = 1500
EXTRACT_FILES = 4
# warm-up input: later ids of the same seed. The cold first pass costs
# about the same on it as on the full input (plan compilation, worker
# start-up), so it is kept small
WARM_PAGES = 200
WARM_PASSES = 2
# commit buckets: EXTRACT_BUCKETS // EXTRACT_BUCKETS_PER_COMMIT groups per
# pass; every group pays the per-group fixed cost (plan, write, re-count,
# lineage append, input re-scan)
EXTRACT_BUCKETS = 8
EXTRACT_BUCKETS_PER_COMMIT = 8
CURATE_BUCKETS = 8
CURATE_BUCKETS_PER_COMMIT = 4
# the stream check: the first pages of the same input as small files,
# one file per micro-batch
STREAM_FILES = 2
STREAM_DOCS_PER_FILE = 50
CURATE_PAGES = 1000
CURATE_ITEMS = 20
# curation gates loose enough that every verdict occurs on generated pages
CURATE_KW = dict(threshold=0.5, min_quality=0.3, max_dup_frac=0.6, lang="en")

# a curate pass takes about as long as a run's --seconds (10), so without a
# floor some runs time one pass and some two, and the second pass of a
# still-warming JVM is ~20 % faster: the median would jump between the two
MIN_PASSES = 2

# the end-to-end metrics every untraced run reports, with their units
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}

PAGES_ARROW = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


@dataclass
class Pass:
    wall_s: float
    out: dict = field(default_factory=dict)


@dataclass
class Run:
    spark: object
    seed: int
    work: Path
    tracer: Tracer
    setup: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return str(self.work / "data" / name)

    @contextmanager
    def stage(self, name: str):
        """Time one set-up stage into ``self.setup``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0


def write_pages(path: str, seed: int, ids: range, files: int) -> set[str]:
    """The generated pages table (datagen's rows, a pure function of
    ``(seed, id)``) as ``files`` parquet files; returns its urls."""
    rows = [datagen.generate_page(seed, i) for i in ids]
    cols = list(zip(*rows))
    table = pa.table(
        {name: list(col) for name, col in zip(PAGES_ARROW.names, cols)},
        schema=PAGES_ARROW,
    )
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k:05d}.parquet")
    return set(cols[0])


class Extract:
    """The north-star job: jobs/extract_job.py's lineage-committed
    extraction over the generated pages table."""

    name = "extract"
    n = EXTRACT_PAGES
    ops_per_pass = EXTRACT_BUCKETS // EXTRACT_BUCKETS_PER_COMMIT

    def setup(self, run: Run) -> None:
        self.pages_path = run.path("pages")
        self.stream_path = run.path("pages-stream")
        warm_path = run.path("pages-warm")
        with run.stage("datagen.write_pages"):
            self.urls = write_pages(self.pages_path, run.seed, range(self.n), EXTRACT_FILES)
            write_pages(warm_path, run.seed, range(self.n, self.n + WARM_PAGES), EXTRACT_FILES)
            write_pages(self.stream_path, run.seed,
                        range(STREAM_FILES * STREAM_DOCS_PER_FILE), STREAM_FILES)
        self.pages = run.spark.read.parquet(self.pages_path)
        self.warm_pages = run.spark.read.parquet(warm_path)

    def one_pass(self, run: Run, tag: str, pages=None) -> Pass:
        out, lin = run.path(f"results-{tag}"), run.path(f"lineage-{tag}")
        with run.tracer.span("lineage.run_with_lineage") as s, \
                layers.GroupSpans(run.tracer, extract_pipeline) as transform:
            job = run_with_lineage(
                run.spark, self.pages if pages is None else pages, transform, results_path=out,
                lineage_path=lin, num_buckets=EXTRACT_BUCKETS,
                buckets_per_commit=EXTRACT_BUCKETS_PER_COMMIT,
            )
        return Pass(s.seconds, {"results": out, "lineage": lin, "job": job, "span": s})

    def warm_up(self, run: Run) -> list[Pass]:
        """A cold lineage pass over the small warm-up input (the first pass
        is slow at any input size: plan compilation, worker start-up), then
        WARM_PASSES lineage passes over the full input. See BASELINE.md,
        "Warm-up", for the pass-time series this is set from."""
        warm = [self.one_pass(run, "w0", self.warm_pages)]
        warm += [self.one_pass(run, f"w{i + 1}") for i in range(WARM_PASSES)]
        return warm

    def check(self, run: Run, passes: list[Pass], traced: bool) -> list[str]:
        """The last pass's results, lineage total and stored digest; in the
        traced run also the stream (see ``check_stream``)."""
        last = passes[-1]
        rows = checks.digest_rows(run.spark.read.parquet(last.out["results"]))
        problems = checks.check_rows(rows, self.urls)
        total = committed_row_total(run.spark, last.out["lineage"], last.out["job"])
        if total != self.n:
            problems.append(f"lineage.committed_row_total {total} != {self.n} input rows")
        digest = checks.combined_digest((u, d) for u, d, _ in rows)
        run.info["digest"] = digest
        problems += checks.check_reference(self.name, run.seed, self.n, digest)
        return problems + (self.check_stream(run, rows) if traced else [])

    def check_stream(self, run: Run, batch_rows) -> list[str]:
        """The same pages through streaming/ingest's ``availableNow``
        stream must give the batch job's per-url digests. A cold stream
        costs ~10 s, so only the traced run makes this check (and reports
        the stream's layer figures from it)."""
        out, metrics = run.path("stream-results"), run.path("stream-metrics")
        with run.tracer.span("streaming.start_extract_stream"):
            q = start_extract_stream(run.spark, self.stream_path, out,
                                     run.path("stream-checkpoint"), metrics,
                                     max_files_per_trigger=1)
            q.awaitTermination()
        self.stream = {"progress": [p for p in q.recentProgress if p["numInputRows"] > 0],
                       "run_id": str(q.runId)}
        rows = checks.digest_rows(run.spark.read.parquet(out))
        n = STREAM_FILES * STREAM_DOCS_PER_FILE
        stream_urls = {datagen.generate_page(run.seed, i)[0] for i in range(n)}
        problems = checks.check_rows(rows, stream_urls)
        total = run.spark.read.parquet(metrics).agg(F.sum("total")).first()[0]
        if total != n:
            problems.append(f"stream metrics total {total} != {n} input rows")
        batch = [r for r in batch_rows if r[0] in stream_urls]
        return problems + checks.compare_digests(batch, rows, "extract vs extract_stream")


class Curate:
    """jobs/curate_job.run_curation over the extraction results of the
    same seed's pages, with evaluation items cut from those pages."""

    name = "curate"
    n = CURATE_PAGES
    ops_per_pass = 1
    kw = CURATE_KW

    def setup(self, run: Run) -> None:
        spark = run.spark
        with run.stage("datagen.write_pages"):
            write_pages(run.path("pages"), run.seed, range(self.n), EXTRACT_FILES)
            write_pages(run.path("pages-warm"), run.seed,
                        range(self.n, self.n + WARM_PAGES), EXTRACT_FILES)
        with run.stage("extract_results"):
            for name in ("", "-warm"):
                extract_pipeline(spark.read.parquet(run.path("pages" + name))).write.parquet(
                    run.path("extracted" + name)
                )
        self.results = spark.read.parquet(run.path("extracted"))
        self.warm_results = spark.read.parquet(run.path("extracted-warm"))
        self.docs = self.results.filter(F.length("extracted_text") > 0)
        self.n_docs = self.docs.count()
        picked = sorted(random.Random(run.seed).sample(range(self.n), CURATE_ITEMS))
        texts = {
            r["url"]: r["extracted_text"]
            for r in self.results.filter(
                F.col("url").isin([datagen.generate_page(run.seed, i)[0] for i in picked])
            ).select("url", "extracted_text").collect()
        }
        self.items = spark.createDataFrame(
            [(k, t) for k, (_, t) in enumerate(sorted(texts.items()))],
            "bench_id long, text string",
        )

    def warm_up(self, run: Run) -> list[Pass]:
        return [self.one_pass(run, "w0", self.warm_results)]

    def one_pass(self, run: Run, tag: str, results=None) -> Pass:
        out = run.path(f"curated-{tag}")
        with run.tracer.span("curate_job.run_curation") as s:
            report = curate_job.run_curation(
                run.spark, self.results if results is None else results, out, benchmark=self.items,
                num_buckets=CURATE_BUCKETS,
                buckets_per_commit=CURATE_BUCKETS_PER_COMMIT, **CURATE_KW,
            )
        return Pass(s.seconds, {"report": report, "output": out, "span": s})

    def check(self, run: Run, passes: list[Pass], traced: bool) -> list[str]:
        """Funnel totals, kept rows, the same verdicts in every pass and the
        stored digest."""
        last = passes[-1]
        report = last.out["report"]
        funnel = report["funnel"]
        problems = []
        if sum(funnel.values()) != self.n_docs:
            problems.append(f"funnel total {sum(funnel.values())} != {self.n_docs} docs")
        if report["kept_rows"] != funnel.get("kept", 0):
            problems.append(f"kept rows {report['kept_rows']} != funnel {funnel.get('kept')}")
        first = passes[0].out["report"]["funnel"]
        if funnel != first:
            problems.append(f"funnel changed between passes: {first} -> {funnel}")
        verdicts = run.spark.read.parquet(last.out["output"] + "_verdicts").collect()
        digest = checks.combined_digest((r["url"], r["verdict"]) for r in verdicts)
        run.info["digest"] = digest
        run.info["funnel"] = funnel
        return problems + checks.check_reference(self.name, run.seed, self.n, digest)


WORKLOADS = {w.name: w for w in (Extract, Curate)}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def timed_loop(run: Run, wl, seconds: float, problems: list[str]) -> list[Pass]:
    """Passes until ``seconds`` have gone by, and at least MIN_PASSES. A
    pass that raises ends the loop and is reported as a problem."""
    passes: list[Pass] = []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        try:
            passes.append(wl.one_pass(run, f"t{len(passes)}"))
        except Exception as e:  # noqa: BLE001 - reported as a failed operation
            traceback.print_exc()
            problems.append(f"timed pass {len(passes)} raised {type(e).__name__}: {e}")
            break
    return passes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    origin = time.perf_counter()
    load_before = os.getloadavg()
    other_jvms = layers.foreign_jvms()
    cores = os.cpu_count() or 1
    wl = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.host": "localhost",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.sql.warehouse.dir": str(Path(args.work) / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={Path(args.work) / 'tmp'}"
            ),
            "spark.sql.session.timeZone": "UTC",
        },
    )
    run = Run(spark, args.seed, Path(args.work), Tracer(spark, enabled=False))
    run.setup["session.start"] = time.perf_counter() - t0

    wl.setup(run)
    with run.stage("warmup"):
        warm = wl.warm_up(run)
    run.info["warmup_pass_s"] = [p.wall_s for p in warm]
    setup_s = time.perf_counter() - t0

    persisted_before = layers.persisted_rdds(spark)
    jiffies = layers.cpu_jiffies()
    problems: list[str] = []
    passes = timed_loop(run, wl, args.seconds, problems)
    run.info["timed_steal_frac"] = layers.steal_frac(jiffies, layers.cpu_jiffies())
    leaked = layers.persisted_rdds(spark) - persisted_before
    if not passes:
        raise RuntimeError("no timed pass completed: " + "; ".join(problems))
    # operations: commit groups (extract) or curate runs; a raised pass
    # and the checked pass, if its output fails a check, count as failed
    raised = int(bool(problems))
    attempted = wl.ops_per_pass * (len(passes) + raised)
    check_problems = wl.check(run, passes, bool(args.trace))
    failed = wl.ops_per_pass * (raised + int(bool(check_problems)))
    problems += check_problems

    walls = [p.wall_s for p in passes]
    wall_s = median(walls)
    values = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "docs_per_s": wl.n / wall_s,
        "peak_rss_mb": layers.peak_rss_mb(),
    }
    e2e = {k: (v, E2E_UNITS[k]) for k, v in values.items()}
    run.info.update(
        workload=wl.name, seed=args.seed, cores=cores, docs_per_pass=wl.n,
        pass_s=walls, setup_stages_s=run.setup,
        leaked_rdds=leaked, loadavg_before=load_before, loadavg_after=os.getloadavg(),
        other_jvms=other_jvms,
    )

    if args.trace:
        metrics = trace_run(run, wl, wall_s, origin)
        metrics.update({
            "leaked_rdds": (leaked, "count"),
            "failed_frac": (failed / attempted, "ratio"),
            "session.start_s": (run.setup["session.start"], "s"),
            "datagen.write_pages_s": (run.setup["datagen.write_pages"], "s"),
        })
    else:
        metrics = e2e
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    Path(args.out).write_text(json.dumps(
        {"result": result, "problems": problems, "run": run.info}, default=str
    ))
    spark.stop()
    return 0


def trace_run(run: Run, wl, untraced_wall_s: float, origin: float) -> dict:
    """One traced pass plus the layer probes; every per-layer metric."""
    # the traced pass sits between two untraced ones, so the JVM's
    # continued warming does not read as (negative) tracing overhead
    before = wl.one_pass(run, "untraced-before")
    run.tracer.enabled = True
    traced = wl.one_pass(run, "traced")
    run.tracer.enabled = False
    after = wl.one_pass(run, "untraced-after")
    run.tracer.enabled = True
    metrics = dict(layers.ZERO)
    metrics["trace.overhead_s"] = (traced.wall_s - (before.wall_s + after.wall_s) / 2, "s")
    metrics.update(layers.PROBES[wl.name](run, wl, untraced_wall_s))
    counters = SparkCounters(run.spark)
    counters.settle()
    groups = counters.jobs_by_group()
    span = traced.out["span"]
    sids = run.tracer.subtree(run.tracer.spans.index(span))
    jobs = [j for i in sids for j in groups.get(run.tracer.spans[i].group, [])]
    totals = counters.stage_totals(jobs, traced.wall_s)
    metrics.update({k: (v, layers.UNITS[k]) for k, v in totals.items()})
    metrics.update(layers.COUNTED[wl.name](run, wl, traced, counters, groups, jobs, totals))
    run.tracer.dump(str(run.work / "spans.json"), origin, groups)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
